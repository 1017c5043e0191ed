"""Value transformations and derived series.

Reference analogues:
- per-series scaling factor applied at read time
  (core/utility/ValueFunction.java:19-23, applied in
  TimeSeriesCSV.java:194 / TimeSeriesParquet.java:71);
- user-defined derived series compiled from config strings at startup
  (CodeGenerator.scala:224-234, Main.scala:104-111), e.g.
  ``sin(toRadians(value))``.

Spark-first: both are plain column expressions (`F.expr`), evaluated
inside whole-stage codegen — the reference's runtime Scala-toolbox
compilation is replaced by Catalyst's own expression compiler
(`derived_value`). Derived series are new (metric, value) rows unioned
onto narrow series, or new value columns of the wide series before the
one fit, so they are compressed and rolled up exactly like base
metrics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def derived_rollup(
    rollup: DataFrame, derived: dict[str, tuple[str, float]]
) -> DataFrame:
    """Rollup tiers for LINEARLY derived series with no refit and no
    reconstruction: the reference shares the SOURCE series' segments
    with the derived tid (groupDerivedCache, SegmentGroup.java:113-124
    explode fan-out), so a derived series costs zero storage; for a
    linear transform ``new = scale * base`` the windowed aggregates
    themselves transform algebraically (cnt unchanged; min/max/sum/mean
    scaled — min/max swap when scale < 0).

    ``derived[new_metric] = (base_metric, scale)``; returns ONLY the
    derived tiers (union with the base rollup as needed)."""
    outs = []
    for new_metric, (base, scale) in sorted(derived.items()):
        src = rollup.where(F.col("metric") == base)
        lo = F.col("vmin") * scale if scale >= 0 else F.col("vmax") * scale
        hi = F.col("vmax") * scale if scale >= 0 else F.col("vmin") * scale
        outs.append(
            src.select(
                "conv_id",
                F.lit(new_metric).alias("metric"),
                "window_ms",
                "cnt",
                lo.alias("vmin"),
                hi.alias("vmax"),
                (F.col("vsum") * scale).alias("vsum"),
                (F.col("mean") * scale).alias("mean"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


def time_series_metadata(
    series: DataFrame, scaling: dict[tuple[str, str], float] | None = None
) -> DataFrame:
    """The engine's `time_series` metadata table: one row per series
    with (tid, conv_id, metric, scaling_factor) — the analogue of the
    reference's time_series table + timeSeriesScalingFactorCache
    (storage/JDBCStorage.scala:47-52, cached Storage.java). tids are
    md5-derived (stable, partition-independent — no global row_number
    bottleneck at scale); scaling defaults to a deterministic
    md5-derived demo factor in {1.0, 1.25, 1.5} unless explicit
    per-(conv_id, metric) overrides are given."""
    key = F.concat_ws(":", "conv_id", "metric")
    base = series.select("conv_id", "metric").distinct()
    tid = F.conv(F.substring(F.md5(key), 1, 15), 16, 10).cast("long")
    if scaling is None:
        digit = F.conv(F.substring(F.md5(key), 16, 1), 16, 10).cast("long")
        factor = F.lit(1.0) + (digit % 3).cast("double") * F.lit(0.25)
    else:
        factor = F.lit(1.0)
        for (cid, met), sf in sorted(scaling.items()):
            factor = F.when(
                (F.col("conv_id") == cid) & (F.col("metric") == met), F.lit(sf)
            ).otherwise(factor)
    return base.select(
        tid.alias("tid"), "conv_id", "metric", factor.alias("scaling_factor")
    )


def scale_series_per_tid(series: DataFrame, meta: DataFrame) -> DataFrame:
    """Per-series scaling applied at READ time, before fitting —
    exactly where the reference applies it (TimeSeriesCSV.java:194,
    TimeSeriesParquet.java:71: value * scalingFactor as float). The
    metadata table is broadcast; the series side never shuffles."""
    return series.join(
        F.broadcast(meta.select("conv_id", "metric", "tid", "scaling_factor")),
        ["conv_id", "metric"],
    ).select(
        "tid",
        "conv_id",
        "metric",
        "bin_ms",
        (F.col("value").cast("double") * F.col("scaling_factor"))
        .cast("float")
        .alias("value"),
    )


def derived_value(expr: str):
    """A `[derived]` clause's SQL expression over `value` as the float
    value column every derived series stores: the one place a clause
    expression is evaluated (a null result is an absent point)."""
    return F.expr(expr).cast("float")


def derive_value_series(
    series: DataFrame, derived: dict[str, tuple[str, str]]
) -> DataFrame:
    """Append derived series to narrow (conv_id, metric, bin_ms, value)
    series: ``derived[new_metric] = (base_metric,
    sql_expr_over_value)``. The expression sees the base value as
    `value` and must produce a float-compatible result.

    Example: ``{"turn_rate_log": ("turn_rate", "ln(value + 1)")}``
    """
    frames = [series]
    for new_metric, (base, expr) in sorted(derived.items()):
        frames.append(
            series.where(F.col("metric") == base).select(
                "conv_id",
                F.lit(new_metric).alias("metric"),
                "bin_ms",
                derived_value(expr).alias("value"),
            )
        )
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out


def with_derived_columns(
    wide: DataFrame, derived: dict[str, tuple[str, str]]
) -> DataFrame:
    """The wide-series form of `derive_value_series`: one float column
    per clause, named after the derived metric, holding the clause's
    expression with `value` bound to its base metric's column. Fitted
    with `fit_segments_wide(..., METRICS + names)`, its segments equal
    the narrow fit of `derive_value_series` (tests/test_config_file.py)."""
    for new_metric, (base, expr) in sorted(derived.items()):
        wide = wide.withColumn("value", F.col(base)).withColumn(
            new_metric, derived_value(expr)
        )
    return wide.drop("value")
