"""Continuous aggregates: rollups computed FROM SEGMENTS without
reconstructing points where the model allows.

This is the engine's headline capability, the Spark-first re-expression
of the reference's 40 time-cube UDAFs + COUNT_S/MIN_S/MAX_S/SUM_S/AVG_S
(SparkUDAF.scala:34-394, splitting engine Segment.cube,
Segment.java:122-155). `window_partials` reads every segment once in
one `mapInPandas` pass of the `models.segment.segment_partials` kernel
and emits one partial row per (segment ∩ window): PMC/Swing segments
take NumPy closed forms on their p0/p1 columns, Gorilla/raw segments
(and exploded group members, with the group stride) decode in
lockstep and reduce per window with ``reduceat``. `merge_partials` is
the partial/final merge the reference hand-wrote as Aggregators:
Catalyst's hash aggregation, one exchange. `rollup_from_segments` is
the one rollup entry for per-series segments and exploded (dimension-)
group members; at the fit interval (the finest tier) it skips the
merge and is map-only. `rollup_cascade` and `calendar_rollup`
re-aggregate a finer tier with the same merge, and
`segment_aggregates` merges the fit-time seg_* columns.

Counts are pure timestamp arithmetic ``(sub_end - sub_start)/interval
+ 1`` and therefore always exact (SparkUDAF.scala:34-55 semantics).
"""

from __future__ import annotations

from collections.abc import Iterator

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

from modelardb_spark.models.segment import segment_partials

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

_KERNEL_COLS = (
    "conv_id", "metric", "start_ms", "end_ms", "interval_ms",
    "mtid", "model", "p0", "p1",
)


def window_partials(segments: DataFrame, window_ms: int) -> DataFrame:
    """One partial row per (segment ∩ window), `ROLLUP_SCHEMA`: ONE
    mapInPandas pass of `segment_partials` over every segment. Frames
    of exploded group members keep their ``goff, gsize`` (and
    dimension groups' ``ukey``) columns, so members decode with the
    group stride."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            row, win, cnt, vmin, vmax, vsum = segment_partials(pdf, window_ms)
            yield pd.DataFrame(
                {
                    "conv_id": pdf["conv_id"].to_numpy()[row],
                    "metric": pdf["metric"].to_numpy()[row],
                    "window_ms": win,
                    "cnt": cnt,
                    "vmin": vmin,
                    "vmax": vmax,
                    "vsum": vsum,
                }
            )

    member = [c for c in ("goff", "gsize", "ukey") if c in segments.columns]
    return segments.select(*_KERNEL_COLS, *member).mapInPandas(run, ROLLUP_SCHEMA)


def merge_partials(partials: DataFrame, *keys) -> DataFrame:
    """Partial -> final rollup rows per `keys`: counts and sums add,
    extremes take min/max (all associative over disjoint point sets),
    then mean = vsum / cnt."""
    return (
        partials.groupBy(*keys)
        .agg(
            F.sum("cnt").alias("cnt"),
            F.min("vmin").alias("vmin"),
            F.max("vmax").alias("vmax"),
            F.sum("vsum").alias("vsum"),
        )
        .withColumn("mean", F.col("vsum") / F.col("cnt"))
    )


def rollup_from_segments(
    segments: DataFrame, window_ms: int, interval_ms: int
) -> DataFrame:
    """segments -> (conv_id, metric, window_ms, cnt, vmin, vmax, vsum,
    mean). `segments` are per-series segments or exploded group members
    (`groupfit.explode_group_segments`,
    `dimgroup.explode_dim_group_segments`), fitted at `interval_ms`.

    General case: one shuffle (the final groupBy) over map-side
    partials. When `window_ms == interval_ms` (the finest tier), every
    window is exactly one bin and therefore covered by exactly one
    segment of its series — the groupBy is a semantic no-op and is
    skipped entirely: the finest tier is a map-only job."""
    partials = window_partials(segments, window_ms)
    if window_ms == interval_ms:
        return partials.withColumn("mean", F.col("vsum") / F.col("cnt"))
    return merge_partials(partials, "conv_id", "metric", "window_ms")


def rollup_cascade(finer: DataFrame, coarser_window_ms: int) -> DataFrame:
    """Coarser tier from a finer tier (1m -> 1h -> 1d): algebraic
    re-aggregation, no segment access — the cascading maintenance path
    for the continuous-aggregate tables."""
    w = F.lit(coarser_window_ms)
    return merge_partials(
        finer,
        "conv_id",
        "metric",
        (F.floor(F.col("window_ms") / w) * w).cast("long").alias("window_ms"),
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
    return merge_partials(
        finer.withColumn("field", F.expr(expr).cast("int")),
        "conv_id",
        "metric",
        "field",
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
    return merge_partials(
        segments.select(
            "conv_id",
            "metric",
            F.col("seg_cnt").alias("cnt"),
            F.col("seg_min").alias("vmin"),
            F.col("seg_max").alias("vmax"),
            F.col("seg_sum").alias("vsum"),
        ),
        "conv_id",
        "metric",
    )
