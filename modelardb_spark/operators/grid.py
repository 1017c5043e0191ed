"""Grid operator: segments -> reconstructed data points.

The reference's DataPoint view (ViewDataPoint.scala + Segment.grid,
Segment.java:97-108). One `mapInPandas` pass of the
`models.segment.segment_points` kernel reconstructs every model type:
PMC/Swing rows from their p0/p1 columns, Gorilla/raw rows (and
exploded group members, with the group stride) by lockstep decode.

Catalyst cannot push a point-level predicate through the `mapInPandas`
node, so point-time predicates should be applied by the caller as
segment-bound overlap predicates *before* gridding (the reference's
timestamp-predicate mapping, ViewDataPoint.scala:47-78) — see
`restrict` and the DATA_POINTS SQL table function.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    FloatType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from modelardb_spark.models.segment import segment_points
from modelardb_spark.operators.rollup import _KERNEL_COLS

POINT_SCHEMA = StructType(
    [
        StructField("conv_id", StringType(), False),
        StructField("metric", StringType(), False),
        StructField("bin_ms", LongType(), False),
        StructField("value", FloatType(), False),
    ]
)


def restrict(segments: DataFrame, lo_ms: int | None, hi_ms: int | None) -> DataFrame:
    """Point-time window -> segment overlap predicate (the reference's
    START/END restriction, SparkUDAF.scala:396-426 / ViewDataPoint
    rewrite). Pruning happens at the segment level; grid() then emits
    only in-window points via the tightened bounds."""
    df = segments
    if lo_ms is not None:
        df = df.where(F.col("end_ms") >= lo_ms)
    if hi_ms is not None:
        df = df.where(F.col("start_ms") <= hi_ms)
    return df


def _points(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        if len(pdf) == 0:
            continue
        row, bin_ms, value = segment_points(pdf)
        yield pd.DataFrame(
            {
                "conv_id": pdf["conv_id"].to_numpy()[row],
                "metric": pdf["metric"].to_numpy()[row],
                "bin_ms": bin_ms,
                "value": value,
            }
        )


def grid(segments: DataFrame) -> DataFrame:
    """segments -> (conv_id, metric, bin_ms, value float32). Frames of
    exploded group members keep their ``goff, gsize`` (and dimension
    groups' ``ukey``) columns, so members decode with the group
    stride."""
    member = [c for c in ("goff", "gsize", "ukey") if c in segments.columns]
    return segments.select(*_KERNEL_COLS, *member).mapInPandas(_points, POINT_SCHEMA)
