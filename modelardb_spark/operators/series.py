"""Derive per-conversation metric series from transcripts, and the
explicit gap-fill operator.

Reference analogues: derived series are the reference's
`modelardb.source.derived` ValueFunctions (Main.scala:104-111,
CodeGenerator.scala:224-234); the 1-minute bin is the reference's
sampling interval; a bin jump larger than the interval is a gap and
splits segments (SegmentGenerator.java:131-148), so series contain
only *active* bins — empty bins are never materialized (at 10^12-turn
scale materializing idle minutes would dwarf the data itself).

All timestamps are epoch-millis BIGINTs; metrics:
- turn_rate:  turns per active 1-minute bin
- tool_usage: turns with a non-null tool per active bin (0 when the
  bin is active but tool-free, keeping both series on the same bins)
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from modelardb_spark.config import DEFAULT_CONFIG, EngineConfig

#: the metrics derived per conversation, in member order: the columns
#: of `derive_series_wide`, the series every fit writes and the
#: `time_series` rows ingest records
METRICS = ("turn_rate", "tool_usage")


def bin_col(interval_ms: int):
    """Each turn's `ts` floored to the start of its `interval_ms` bin,
    in epoch millis: the one bin expression behind every derive and
    fit path. The cast covers TIMESTAMP_NTZ inputs; the session time
    zone is UTC, so the value is time-zone independent."""
    return (
        F.floor(F.unix_millis(F.col("ts").cast("timestamp")) / interval_ms)
        * interval_ms
    ).alias("bin_ms")


def derive_series(
    transcripts: DataFrame, cfg: EngineConfig = DEFAULT_CONFIG
) -> DataFrame:
    """transcripts -> (conv_id, metric, bin_ms bigint, value float).

    The `stack` unpivot of `derive_series_wide`: one shuffle (the
    groupBy on conv_id and bin), then JVM-side rows per metric (no
    second shuffle, no Python).
    """
    return derive_series_wide(transcripts, cfg).select(
        "conv_id",
        F.expr(
            "stack(2, 'turn_rate', turn_rate, 'tool_usage', tool_usage)"
            " as (metric, value)"
        ),
        "bin_ms",
    ).select("conv_id", "metric", "bin_ms", "value")


def derive_series_wide(
    transcripts: DataFrame, cfg: EngineConfig = DEFAULT_CONFIG
) -> DataFrame:
    """Wide variant: (conv_id, bin_ms, turn_rate float, tool_usage
    float) — both metrics share the active-bin grid, so keeping them as
    columns instead of unpivoted rows HALVES the rows through the fit
    shuffle and the Arrow transfer (the hottest path at scale).
    `fit_segments_wide` consumes this; output segments are identical to
    the narrow path."""
    return transcripts.groupBy(F.col("conv_id"), bin_col(cfg.interval_ms)).agg(
        F.count(F.lit(1)).cast("float").alias("turn_rate"),
        F.count(F.col("tool")).cast("float").alias("tool_usage"),
    )


def gap_fill(
    series: DataFrame, cfg: EngineConfig = DEFAULT_CONFIG, max_fill_bins: int | None = None
) -> DataFrame:
    """Materialize zero-valued bins inside gaps of at most
    `max_fill_bins` missing bins; longer gaps stay unfilled (they split
    segments, reference gap protocol).

    JVM-only plan: lead() window + sequence() + explode. Window
    partitioning is by (conv_id, metric) — the same key as the fit
    shuffle, so AQE can reuse the exchange.
    """
    from pyspark.sql import Window

    iv = cfg.interval_ms
    mfb = cfg.max_fill_bins if max_fill_bins is None else max_fill_bins
    if mfb <= 0:
        return series
    w = Window.partitionBy("conv_id", "metric").orderBy("bin_ms")
    nxt = series.withColumn("next_ms", F.lead("bin_ms").over(w))
    fills = (
        nxt.where(
            (F.col("next_ms").isNotNull())
            & (F.col("next_ms") - F.col("bin_ms") > iv)
            & (F.col("next_ms") - F.col("bin_ms") <= (mfb + 1) * iv)
        )
        .select(
            "conv_id",
            "metric",
            F.explode(
                F.sequence(
                    F.col("bin_ms") + iv, F.col("next_ms") - iv, F.lit(iv)
                )
            ).alias("bin_ms"),
            F.lit(0.0).cast("float").alias("value"),
        )
    )
    return series.unionByName(fills)
