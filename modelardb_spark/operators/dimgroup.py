"""Dimension-driven cross-entity grouping: the reference's Correlation
clause surface (core/Correlation.java:40-45 — group time series by
source name, by DIMENSION MEMBERS, by LCA level, or by distance;
applied at partition time in core/Partitioner.java:95-124), where a
group may span DIFFERENT sources.

Here the dimension table (operators/dimensions.py) supplies the clause:
every (conv_id, metric) series whose conversation carries the same
dimension member (e.g. channel='web') joins one group sharing the
1-minute bin grid. Groups are capped at `max_group_size` members via
stable sub-buckets (the reference leaves group size to the user's
clause; the cap bounds the interleave width — and therefore every
fit/decode matrix — regardless of how many conversations a member
value matches, which is what survives 100 TB).

Physical shape mirrors `fit_segments_grouped`: one shuffle keyed on
(group, salt-day), rows sorted by bin. The narrow rows scatter into the
member matrix every group fit shares — one row per bin, one column per
member index, NaN where a member is absent — and the one group run
splitter (`groupfit._fit_member_runs`) cuts it into runs of a stable
active set, exactly as for conversation groups. At query time
`explode_dim_group_segments` maps each member back to its real
(conv_id, metric), and the members roll up through the one rollup
entry, `rollup_from_segments(explode_dim_group_segments(g, members),
w, interval_ms)`.

Trade-off (documented, the reference shares it): grouping only pays
when members are actually aligned on the grid — sparse, weakly-
overlapping series fragment runs and pay the 4-bytes-per-absent-member
gap entries (ModelType.java:49-54), exactly as a bad user clause does
in the reference. tests/test_dimgroup.py shows the dense-aligned win
and the oracle pins exactness at bound 0 either way.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from modelardb_spark.config import DEFAULT_CONFIG, EngineConfig
from modelardb_spark.operators.fit import fit_arranged, key_change
from modelardb_spark.operators.groupfit import GROUP_SEGMENT_SCHEMA, _fit_member_runs


def dim_group_members(
    series: DataFrame,
    dims: DataFrame,
    by: str = "channel",
    max_group_size: int = 8,
) -> DataFrame:
    """Member registry: (gkey, conv_id, metric, midx, gsize) — every
    series of a dimension-member group, with a stable member index.
    Groups larger than `max_group_size` split into deterministic
    sub-buckets (gkey = '<member>#<bucket>') so the interleave width is
    bounded. This is the engine's analogue of the reference's startup
    group formation (Partitioner.java:95-124) and is pure metadata —
    O(#series) rows."""
    m = (
        series.select("conv_id", "metric")
        .distinct()
        .join(F.broadcast(dims.select("conv_id", by)), "conv_id")
    )
    w = Window.partitionBy(by).orderBy("conv_id", "metric")
    m = (
        m.withColumn("rank0", F.row_number().over(w) - 1)
        .withColumn("bucket", (F.col("rank0") / max_group_size).cast("int"))
        .withColumn("gkey", F.concat_ws("#", F.col(by), F.col("bucket")))
        .withColumn("midx", (F.col("rank0") % max_group_size).cast("int"))
    )
    gsz = m.groupBy("gkey").agg(F.count("*").alias("gsize"))
    return m.join(gsz, "gkey").select("gkey", "conv_id", "metric", "midx", "gsize")


def materialize_members(members: DataFrame) -> DataFrame:
    """Collapse the member-registry lineage to a local relation.

    The registry is O(#series) metadata (five narrow columns), but its
    LINEAGE is a full series scan + distinct + a window + a group-size
    join — and every consumer re-evaluates it: the fit's equi-join AND
    the explode-side broadcast each replay the whole scan. Collecting
    the registry once and re-creating it as a local relation removes
    the duplicate series scans from every dimension-group plan. Same
    small-data posture as the registry broadcast in
    `explode_dim_group_segments` (fine to ~tens of millions of
    series). The round trip is Arrow both ways
    (toArrow + createDataFrame-from-Arrow): lossless for every column
    type, where a pandas hop would turn a nullable integer column into
    float64, and without the per-row pickling of a collect() of Rows."""
    spark = members.sparkSession
    return spark.createDataFrame(members.toArrow(), schema=members.schema)


def _fit_dim_group_runs(
    error_bound: float, length_bound: int, interval_ms: int
):
    """Per-run body of `fit_segments_dim_grouped` over narrow rows
    sorted by (gkey, salt, bin_ms): scatter each bin's rows into one
    row of the member matrix (`vals[bin, midx] = value`, NaN where a
    member is absent, width `gsize.max()`, which `max_group_size`
    bounds) and hand it to the shared group run splitter. The rows of
    one bin may arrive in any order."""

    def fit(pdf: pd.DataFrame) -> Iterator[pd.DataFrame]:
        gsize = pdf["gsize"].to_numpy().astype(np.int64)
        row_bin = np.cumsum(key_change(pdf, ("gkey", "salt", "bin_ms")))
        vals = np.full((row_bin[-1] + 1, gsize.max()), np.nan, dtype=np.float32)
        vals[row_bin, pdf["midx"].to_numpy()] = pdf["value"].to_numpy()
        first = np.flatnonzero(np.diff(row_bin, prepend=-1))
        return _fit_member_runs(
            pdf["gkey"].to_numpy()[first],
            pdf["salt"].to_numpy()[first],
            pdf["bin_ms"].to_numpy().astype(np.int64)[first],
            vals,
            gsize[first],
            error_bound,
            length_bound,
            interval_ms,
        )

    return fit


def fit_segments_dim_grouped(
    series: DataFrame,
    members: DataFrame,
    cfg: EngineConfig = DEFAULT_CONFIG,
) -> DataFrame:
    """Narrow series (conv_id, metric, bin_ms, value) + member registry
    -> GROUP segments whose `conv_id` column holds the group key. One
    shuffle, keyed on (gkey, salt-day) with the usual day salting, so a
    hot dimension member never exceeds one day x `max_group_size`
    members per task."""
    rows = series.join(members, ["conv_id", "metric"]).select(
        "gkey", "bin_ms", "midx", "value", "gsize"
    )
    return fit_arranged(
        rows,
        cfg,
        ["gkey"],
        _fit_dim_group_runs(cfg.error_bound, cfg.length_bound, cfg.interval_ms),
        GROUP_SEGMENT_SCHEMA,
    )


def explode_dim_group_segments(gseg: DataFrame, members: DataFrame) -> DataFrame:
    """Group segment -> one logical segment per present member, mapped
    back to its real (conv_id, metric) through the registry
    (SegmentGroup.explode:51-111 with the reference's gid -> tid
    mapping). `ukey` keeps the group key so the decoder still collapses
    one payload per group row.

    The registry is O(#series) metadata and is broadcast, which holds
    while it fits executor memory (~tens of millions of series)."""
    e = gseg.select(
        F.col("conv_id").alias("gkey"),
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
    reg = F.broadcast(
        members.select("gkey", F.col("midx").alias("tid"), "conv_id", "metric")
    )
    return (
        e.join(reg, ["gkey", "tid"])
        .select(
            "conv_id",
            "metric",
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
            F.col("gkey").alias("ukey"),
        )
    )
