"""Continuous aggregates: rollups computed FROM SEGMENTS without
reconstructing points where the model allows.

This is the engine's headline capability, the Spark-first re-expression
of the reference's 40 time-cube UDAFs + COUNT_S/MIN_S/MAX_S/SUM_S/AVG_S
(SparkUDAF.scala:34-394, splitting engine Segment.cube,
Segment.java:122-155). One `mapInPandas` kernel (`_fused_partials`)
reads every segment once and emits one partial row per (segment ∩
window): PMC/Swing segments take NumPy closed forms that match the
Catalyst column expressions of `_analytic_partials` bit for bit, and
Gorilla/raw segments are decoded in lockstep and reduced per window
with ``reduceat``. Catalyst's hash aggregation supplies the
partial/final merge the reference hand-wrote as Aggregators, in one
exchange; the finest tier (window == bin) skips it and is map-only.
`rollup_cascade` re-aggregates a finer tier into a coarser one.

Counts are pure timestamp arithmetic ``(sub_end - sub_start)/interval
+ 1`` and therefore always exact (SparkUDAF.scala:34-55 semantics).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    FloatType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from modelardb_spark.models import MTID_GORILLA, MTID_PMC, MTID_RAW, MTID_SWING
from modelardb_spark.models.segment import decode_dense_matrix

MINUTE_MS = 60_000
HOUR_MS = 3_600_000
DAY_MS = 86_400_000

ROLLUP_SCHEMA = StructType(
    [
        StructField("conv_id", StringType(), False),
        StructField("metric", StringType(), False),
        StructField("window_ms", LongType(), False),
        StructField("cnt", LongType(), False),
        StructField("vmin", FloatType(), False),
        StructField("vmax", FloatType(), False),
        StructField("vsum", DoubleType(), False),
    ]
)

_PARTIAL_COLS = ["conv_id", "metric", "window_ms", "cnt", "vmin", "vmax", "vsum"]


def _analytic_partials(segments: DataFrame, window_ms: int) -> DataFrame:
    """Closed-form per-(segment ∩ window) partials for PMC/Swing —
    pure column expressions, no Python."""
    w = F.lit(window_ms)
    seg = segments.where(F.col("mtid").isin(MTID_PMC, MTID_SWING))
    split = seg.select(
        "conv_id",
        "metric",
        "mtid",
        "p0",
        "p1",
        "start_ms",
        "end_ms",
        "interval_ms",
        F.explode(
            F.sequence(
                (F.floor(F.col("start_ms") / w) * w).cast("long"),
                (F.floor(F.col("end_ms") / w) * w).cast("long"),
                w,
            )
        ).alias("window_ms"),
    ).select(
        "conv_id",
        "metric",
        "mtid",
        "p0",
        "p1",
        "interval_ms",
        "window_ms",
        F.greatest("start_ms", "window_ms").alias("sub_start"),
        F.least(
            F.col("end_ms"), F.col("window_ms") + w - F.col("interval_ms")
        ).alias("sub_end"),
    )
    cnt = ((F.col("sub_end") - F.col("sub_start")) / F.col("interval_ms") + 1).cast(
        "long"
    )
    first = F.col("p0") * F.col("sub_start") + F.col("p1")
    last = F.col("p0") * F.col("sub_end") + F.col("p1")
    is_pmc = F.col("mtid") == MTID_PMC
    # Swing min/max at the endpoints by slope sign, evaluated at float32
    # like grid values (SwingFilterModelType.java:205-225); PMC constant
    swing_min = (
        F.when(F.col("p0") == 0, F.col("p1"))
        .when(F.col("p0") > 0, first)
        .otherwise(last)
        .cast("float")
    )
    swing_max = (
        F.when(F.col("p0") == 0, F.col("p1"))
        .when(F.col("p0") < 0, first)
        .otherwise(last)
        .cast("float")
    )
    # Swing sum: trapezoid of the unrounded doubles (:227-233);
    # PMC sum: cnt * constant (PMC_MeanModelType.java:133-135)
    return split.select(
        "conv_id",
        "metric",
        "window_ms",
        cnt.alias("cnt"),
        F.when(is_pmc, F.col("p0").cast("float")).otherwise(swing_min).alias("vmin"),
        F.when(is_pmc, F.col("p0").cast("float")).otherwise(swing_max).alias("vmax"),
        F.when(is_pmc, F.col("p0") * cnt)
        .otherwise((first + last) / 2.0 * cnt)
        .alias("vsum"),
    )


def _dense_partial_block(pdf: pd.DataFrame, window_ms: int) -> pd.DataFrame:
    """Per-(segment ∩ window) partials for a batch of DENSE
    (Gorilla/raw) segments: one lockstep decode + one reduceat family."""
    n_seg = len(pdf)
    start = pdf["start_ms"].to_numpy().astype(np.int64)
    end = pdf["end_ms"].to_numpy().astype(np.int64)
    si = pdf["interval_ms"].to_numpy().astype(np.int64)
    lens = (end - start) // si + 1
    mat = decode_dense_matrix(pdf["mtid"].to_numpy(), list(pdf["model"]), lens)
    max_n = mat.shape[1]
    idx = np.arange(max_n, dtype=np.int64)
    mask = idx[None, :] < lens[:, None]
    vals = mat[mask]
    ts = (start[:, None] + si[:, None] * idx[None, :])[mask]
    seg_id = np.repeat(np.arange(n_seg), lens)
    wins = (ts // window_ms) * window_ms
    new = np.empty(vals.size, dtype=bool)
    new[0] = True
    new[1:] = (seg_id[1:] != seg_id[:-1]) | (wins[1:] != wins[:-1])
    starts = np.flatnonzero(new)
    conv = pdf["conv_id"].to_numpy()
    met = pdf["metric"].to_numpy()
    counts = np.diff(np.concatenate((starts, [vals.size])))
    return pd.DataFrame(
        {
            "conv_id": conv[seg_id[starts]],
            "metric": met[seg_id[starts]],
            "window_ms": wins[starts],
            "cnt": counts.astype(np.int64),
            "vmin": np.minimum.reduceat(vals, starts),
            "vmax": np.maximum.reduceat(vals, starts),
            "vsum": np.add.reduceat(vals.astype(np.float64), starts),
        }
    )


def _analytic_partial_block(pdf: pd.DataFrame, window_ms: int) -> pd.DataFrame:
    """Per-(segment ∩ window) partials for a batch of ANALYTIC
    (PMC/Swing) segments — the NumPy replication of the
    `_analytic_partials` column expressions, operation for operation on
    the same float64/float32 arithmetic, so the partial rows are
    bit-identical to the Catalyst closed forms:

      cnt  = long((sub_end - sub_start) / interval + 1)   [double div]
      PMC  : vmin = vmax = float32(p0);  vsum = p0 * cnt
      Swing: first/last = p0 * sub + p1 (float64),
             min/max by slope sign cast to float32,
             vsum = (first + last) / 2.0 * cnt
    """
    w = window_ms
    s = pdf["start_ms"].to_numpy().astype(np.int64)
    e = pdf["end_ms"].to_numpy().astype(np.int64)
    iv = pdf["interval_ms"].to_numpy().astype(np.int64)
    mt = pdf["mtid"].to_numpy()
    p0 = pdf["p0"].to_numpy().astype(np.float64)
    p1 = pdf["p1"].to_numpy().astype(np.float64)
    # window explode: floor-div == Spark's floor(double-div) for these
    # magnitudes (an integer ms >= 1 away from a window boundary can
    # never cross it under ~1e-10 double error)
    w0 = (s // w) * w
    nwin = e // w - s // w + 1
    total = int(nwin.sum())
    seg_of = np.repeat(np.arange(len(pdf)), nwin)
    firsts = np.cumsum(nwin) - nwin
    k = np.arange(total, dtype=np.int64) - firsts[seg_of]
    win = w0[seg_of] + w * k
    ss = np.maximum(s[seg_of], win)
    se = np.minimum(e[seg_of], win + w - iv[seg_of])
    cnt = ((se - ss) / iv[seg_of] + 1.0).astype(np.int64)
    pm = mt[seg_of] == MTID_PMC
    p0g, p1g = p0[seg_of], p1[seg_of]
    first = p0g * ss + p1g
    last = p0g * se + p1g
    p0f = p0g.astype(np.float32)
    sw_min = np.where(
        p0g == 0, p1g, np.where(p0g > 0, first, last)
    ).astype(np.float32)
    sw_max = np.where(
        p0g == 0, p1g, np.where(p0g < 0, first, last)
    ).astype(np.float32)
    return pd.DataFrame(
        {
            "conv_id": pdf["conv_id"].to_numpy()[seg_of],
            "metric": pdf["metric"].to_numpy()[seg_of],
            "window_ms": win,
            "cnt": cnt,
            "vmin": np.where(pm, p0f, sw_min),
            "vmax": np.where(pm, p0f, sw_max),
            "vsum": np.where(pm, p0g * cnt, (first + last) / 2.0 * cnt),
        }
    )


def _fused_partials(segments: DataFrame, window_ms: int) -> DataFrame:
    """ONE pass over ALL segments: dense decode partials AND the
    PMC/Swing closed forms in the same mapInPandas kernel. The round-6
    plan split segments into an analytic (Catalyst closed-form) branch
    and a dense branch — each branch re-ran the whole upstream fit
    kernel (the shuffle was shared via ReuseExchange, the post-shuffle
    sort + fit were not), costing one extra fit per rollup query."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            mt = pdf["mtid"].to_numpy()
            dense_m = (mt == MTID_RAW) | (mt == MTID_GORILLA)
            ana_m = (mt == MTID_PMC) | (mt == MTID_SWING)
            frames = []
            if dense_m.any():
                frames.append(
                    _dense_partial_block(pdf[dense_m], window_ms)
                )
            if ana_m.any():
                frames.append(
                    _analytic_partial_block(pdf[ana_m], window_ms)
                )
            if frames:
                yield pd.concat(frames, ignore_index=True)

    cols = segments.select(
        "conv_id", "metric", "start_ms", "end_ms", "interval_ms",
        "mtid", "model", "p0", "p1",
    )
    return cols.mapInPandas(run, ROLLUP_SCHEMA)


def _dense_partials(segments: DataFrame, window_ms: int) -> DataFrame:
    """Vectorized decode path for Gorilla/raw segments only (kept for
    callers that split branches themselves)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            yield _dense_partial_block(pdf, window_ms)

    dense = segments.where(F.col("mtid").isin(MTID_RAW, MTID_GORILLA)).select(
        "conv_id", "metric", "start_ms", "end_ms", "interval_ms", "mtid", "model"
    )
    return dense.mapInPandas(run, ROLLUP_SCHEMA)


def rollup_from_segments(
    segments: DataFrame, window_ms: int, interval_ms: int = MINUTE_MS
) -> DataFrame:
    """segments -> (conv_id, metric, window_ms, cnt, vmin, vmax, vsum,
    mean).

    General case: one shuffle (the final groupBy) over map-side
    partials. When `window_ms == interval_ms` (the finest tier), every
    window is exactly one bin and therefore covered by exactly one
    segment of its series — the groupBy is a semantic no-op and is
    skipped entirely: the finest tier is a map-only job."""
    partials = _fused_partials(segments, window_ms)
    if window_ms == interval_ms:
        return partials.withColumn("mean", F.col("vsum") / F.col("cnt"))
    return (
        partials.groupBy("conv_id", "metric", "window_ms")
        .agg(
            F.sum("cnt").alias("cnt"),
            F.min("vmin").alias("vmin"),
            F.max("vmax").alias("vmax"),
            F.sum("vsum").alias("vsum"),
        )
        .withColumn("mean", F.col("vsum") / F.col("cnt"))
    )


def rollup_cascade(finer: DataFrame, coarser_window_ms: int) -> DataFrame:
    """Coarser tier from a finer tier (1m -> 1h -> 1d): algebraic
    re-aggregation, no segment access — the cascading maintenance path
    for the continuous-aggregate tables."""
    w = F.lit(coarser_window_ms)
    return (
        finer.groupBy(
            "conv_id",
            "metric",
            (F.floor(F.col("window_ms") / w) * w).cast("long").alias("window_ms"),
        )
        .agg(
            F.sum("cnt").alias("cnt"),
            F.min("vmin").alias("vmin"),
            F.max("vmax").alias("vmax"),
            F.sum("vsum").alias("vsum"),
        )
        .withColumn("mean", F.col("vsum") / F.col("cnt"))
    )


#: calendar fields supported by the cube rollup — the reference ships
#: {COUNT,MIN,MAX,SUM,AVG}_{YEAR..SECOND} as 40 UDAFs
#: (SparkUDAF.scala:355-394); here one operator parameterized by field
CALENDAR_FIELDS = {
    "year": "year(ts)",
    "month": "month(ts)",
    "day_of_month": "dayofmonth(ts)",
    "day_of_week": "dayofweek(ts)",
    "am_pm": "CASE WHEN hour(ts) < 12 THEN 0 ELSE 1 END",
    "hour": "hour(ts) % 12",  # 12-hour clock (Calendar.HOUR, field 10)
    "hour_of_day": "hour(ts)",
    "minute": "minute(ts)",
    "second": "second(ts)",  # Calendar.SECOND, field 13
}


def calendar_rollup(finer: DataFrame, field: str) -> DataFrame:
    """Cube aggregate over a calendar field (reference's *_HOUR_OF_DAY
    style UDAFs): re-aggregates a window tier whose width divides the
    field's period, so no segment splitting is ever needed.

    `finer` must be at least as fine as the field (e.g. rollup_1h for
    hour_of_day, rollup_1m for minute). UTC calendar.
    """
    if field not in CALENDAR_FIELDS:
        raise ValueError(f"field must be one of {sorted(CALENDAR_FIELDS)}")
    expr = CALENDAR_FIELDS[field].replace(
        "ts", "timestamp_millis(window_ms)"
    )
    return (
        finer.withColumn("field", F.expr(expr).cast("int"))
        .groupBy("conv_id", "metric", "field")
        .agg(
            F.sum("cnt").alias("cnt"),
            F.min("vmin").alias("vmin"),
            F.max("vmax").alias("vmax"),
            F.sum("vsum").alias("vsum"),
        )
        .withColumn("mean", F.col("vsum") / F.col("cnt"))
    )


def compression_stats(segments: DataFrame) -> DataFrame:
    """Compression accounting per (conv_id, metric) using the
    reference's ratio definition: 16 bytes/point raw vs 24-byte segment
    metadata + model payload (+4/gap entry; always 0 here) —
    ModelType.java:49-54, Logger.java:120-127."""
    per_seg = segments.select(
        "conv_id",
        "metric",
        "mtid",
        F.col("n"),
        (F.lit(24) + F.length("model")).alias("stored_bytes"),
    )
    return (
        per_seg.groupBy("conv_id", "metric")
        .agg(
            F.count("*").alias("segments"),
            F.sum("n").alias("points"),
            F.sum("stored_bytes").alias("stored_bytes"),
            F.round(
                (16.0 * F.sum("n")) / F.sum("stored_bytes"), 6
            ).alias("compression_ratio"),
        )
    )


def segment_aggregates(segments: DataFrame) -> DataFrame:
    """Whole-series aggregates straight off the segment columns — the
    COUNT_S/MIN_S/MAX_S/SUM_S/AVG_S surface (SparkUDAF.scala:34-184)
    with zero reconstruction for every model type."""
    return (
        segments.groupBy("conv_id", "metric")
        .agg(
            F.sum("seg_cnt").alias("cnt"),
            F.min("seg_min").alias("vmin"),
            F.max("seg_max").alias("vmax"),
            F.sum("seg_sum").alias("vsum"),
        )
        .withColumn("mean", F.col("vsum") / F.col("cnt"))
    )
