"""The reference's two-view query surface as Spark SQL temp views.

The entire query interface of the reference is two relational views —
`Segment(tid, start_time, end_time, mtid, model, ...)` and the derived
`DataPoint(tid, timestamp, value, ...)` (ViewSegment.scala:31-38,
ViewDataPoint.scala:29-33, registered Spark.scala:139-143). Here the
same surface is `segments` / `data_points` temp views over any
segments DataFrame: every Spark SQL construct (joins against external
tables, grouping sets, window functions, approx aggregates) then works
by delegation, exactly as in the reference.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from modelardb_spark.operators.grid import grid


def register_views(
    spark: SparkSession,
    segments: DataFrame,
    segment_view: str = "segments",
    point_view: str = "data_points",
) -> None:
    """Register the two-view surface. The point view carries both the
    epoch-millis and a timestamp column. Its rows come out of one
    `mapInPandas` point kernel, which Catalyst cannot push predicates
    through: a filter on the point view runs after every segment is
    reconstructed. To prune segments first, restrict the segments
    (`grid.restrict`) or query the DATA_POINTS(lo, hi) table
    function."""
    segments.createOrReplaceTempView(segment_view)
    pts = grid(segments).withColumn(
        "ts", F.timestamp_millis(F.col("bin_ms"))
    )
    pts.createOrReplaceTempView(point_view)
