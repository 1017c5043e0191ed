"""Multi-series group compression tests: reconstruction equals the raw
series exactly at bound 0, the gaps-as-absent-tids protocol matches the
reference's explode semantics, and the group path measurably beats
per-series compression on the transcripts workload."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from modelardb_spark.config import EngineConfig
from modelardb_spark.operators.fit import fit_segments_wide
from modelardb_spark.operators.groupfit import (
    explode_group_segments,
    fit_segments_grouped,
    grid_group,
    group_compression_stats,
)
from modelardb_spark.operators.rollup import (
    HOUR_MS,
    compression_stats,
    rollup_from_segments,
)
from modelardb_spark.operators.series import METRICS, derive_series_wide
from modelardb_spark.operators.transcripts import transcripts_from_events

CFG = EngineConfig(error_bound=0.0)


@pytest.fixture(scope="module")
def wide(spark, sf_small):
    w = derive_series_wide(transcripts_from_events(spark, sf_small), CFG).cache()
    w.count()
    return w


@pytest.fixture(scope="module")
def gseg(spark, wide):
    g = fit_segments_grouped(wide, CFG).cache()
    g.count()
    return g


def _narrow(wide):
    rows = []
    for m in METRICS:
        rows.append(
            wide.select(
                "conv_id", F.lit(m).alias("metric"), "bin_ms",
                F.col(m).alias("value"),
            ).where(F.col(m).isNotNull())
        )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out


def test_group_grid_reconstructs_exactly(spark, wide, gseg):
    want = sorted(
        (r["conv_id"], r["metric"], r["bin_ms"], float(np.float32(r["value"])))
        for r in _narrow(wide).collect()
    )
    got = sorted(
        (r["conv_id"], r["metric"], r["bin_ms"], float(r["value"]))
        for r in grid_group(gseg).collect()
    )
    assert got == want


def _assert_rollup_matches_raw(wide, got, window_ms):
    raw = (
        _narrow(wide)
        .groupBy(
            "conv_id",
            "metric",
            ((F.col("bin_ms") / window_ms).cast("long") * window_ms).alias(
                "window_ms"
            ),
        )
        .agg(
            F.count("*").alias("cnt"),
            F.min("value").cast("double").alias("vmin"),
            F.max("value").cast("double").alias("vmax"),
            F.sum(F.col("value").cast("double")).alias("vsum"),
        )
    )
    a = {
        (r["conv_id"], r["metric"], r["window_ms"]): (
            r["cnt"], r["vmin"], r["vmax"], round(r["vsum"], 6),
        )
        for r in raw.collect()
    }
    b = {
        (r["conv_id"], r["metric"], r["window_ms"]): (
            r["cnt"], float(r["vmin"]), float(r["vmax"]), round(r["vsum"], 6),
        )
        for r in got.collect()
    }
    assert a == b


def test_group_rollup_matches_raw(spark, wide, gseg):
    _assert_rollup_matches_raw(
        wide,
        rollup_from_segments(
            explode_group_segments(gseg), HOUR_MS, CFG.interval_ms
        ),
        HOUR_MS,
    )


def test_rollup_adaptive_merges_across_routing_boundary(spark):
    """Per-day routing groups a conversation on a day its members move
    together and fits it per series on a day they do not. A 7-day
    window holding both days has partials from both branches and must
    still equal the raw-points rollup."""
    from modelardb_spark.operators.groupfit import (
        fit_segments_adaptive,
        rollup_adaptive,
    )

    day, week = 86_400_000, 7 * 86_400_000
    base = 1_704_067_200_000  # 2024-01-01: days 0 and 1 share one week
    rows = []
    for conv, together in (("a", (True, False)), ("b", (False, True)),
                           ("c", (True, True))):
        for d, same in enumerate(together):
            for i in range(90):
                x = float(i % 7 + 1)
                rows.append((conv, base + d * day + i * 60_000, x,
                             2 * x if same else 8 - x))
    wide = spark.createDataFrame(
        rows, "conv_id string, bin_ms long, turn_rate double, tool_usage double"
    )
    g, p = fit_segments_adaptive(wide, CFG, per_day=True)

    def days(segs):
        return {
            (r[0], (r[1] - base) // day)
            for r in segs.select("conv_id", "start_ms").collect()
        }

    grouped, single = days(g), days(p)
    assert grouped == {("a", 0), ("b", 1), ("c", 0), ("c", 1)}
    assert single == {("a", 1), ("b", 0)}
    _assert_rollup_matches_raw(
        wide, rollup_adaptive(g, p, week), week
    )


def test_group_compression_beats_per_series(spark, wide, gseg):
    per = fit_segments_wide(wide, CFG)
    per_bytes = compression_stats(per).agg(F.sum("stored_bytes")).first()[0]
    grp_bytes = group_compression_stats(gseg).agg(F.sum("stored_bytes")).first()[0]
    pts_per = compression_stats(per).agg(F.sum("points")).first()[0]
    pts_grp = group_compression_stats(gseg).agg(F.sum("points")).first()[0]
    assert pts_per == pts_grp  # same data points covered
    # the headline: one metadata row for N series -> measurable win
    assert grp_bytes < per_bytes * 0.75


def test_group_swing_on_correlated_linear_fixture(spark):
    """The reference runs EVERY model type over the group's interleaved
    stream, including Swing (SegmentGenerator.java:154-167,
    SwingFilterModelType.java:36-103). On correlated same-scale linear
    members one shared 8-16 B line must beat Gorilla: the fit emits
    Swing group segments, the stored bytes undercut a Swing-less
    cascade by an order of magnitude on this fixture, and the grid
    reconstruction stays exact at bound 0."""
    n = 120
    bins = [60_000 * i for i in range(n)]
    ramp = [float(np.float32(2.0 * i + 5.0)) for i in range(n)]
    pdf = pd.DataFrame(
        {
            "conv_id": ["c"] * n,
            "bin_ms": bins,
            "turn_rate": ramp,
            "tool_usage": ramp,  # identical linear members
        }
    )
    wide = spark.createDataFrame(pdf)
    gseg = fit_segments_grouped(wide, CFG).cache()
    rows = gseg.collect()
    assert {r["mtid"] for r in rows} == {3}, [
        (r["mtid"], r["n"]) for r in rows
    ]
    stored = sum(24 + len(r["model"]) for r in rows)
    # Swing-less floor on this fixture: every value is distinct, so
    # Gorilla XOR bytes scale with the point count; one line does not
    assert stored < 16 * 2 * n / 10
    got = sorted(
        (r["metric"], r["bin_ms"], float(r["value"]))
        for r in grid_group(gseg).collect()
    )
    want = sorted((m, b, v) for m in METRICS for b, v in zip(bins, ramp))
    assert got == want
    # the rollup's analytic path handles the Swing members too
    r1h = rollup_from_segments(
        explode_group_segments(gseg), HOUR_MS, CFG.interval_ms
    ).collect()
    assert sum(r["cnt"] for r in r1h) == 2 * n
    assert all(r["vsum"] == pytest.approx(sum(
        v for b, v in zip(bins, ramp) if b // HOUR_MS * HOUR_MS == r["window_ms"]
    )) for r in r1h)


def test_ratio_feedback_split_beats_static_group(spark):
    """Crafted poorly-grouping fixture: members identical for a long
    stretch (group PMC shines, establishing a high running ratio
    average), then one member turns to noise (the interleaved Gorilla
    segment's ratio collapses). The ratio-feedback trigger
    (SegmentGenerator.java:296-351) must split, letting the constant
    member stay PMC while the noisy one goes Gorilla alone — strictly
    fewer stored bytes than the static group fit — and reconstruction
    must stay exact at bound 0."""
    from modelardb_spark.operators.groupfit import DYNAMIC_SPLIT_FRACTION

    rng = np.random.default_rng(7)
    n = 200
    bins = [60_000 * i for i in range(n)]
    noise = [float(np.float32(v)) for v in rng.normal(50, 20, size=n)]
    pdf = pd.DataFrame(
        {
            "conv_id": ["c"] * n,
            "bin_ms": bins,
            "turn_rate": [3.0] * n,
            "tool_usage": [3.0] * 60 + noise[60:],
        }
    )
    wide = spark.createDataFrame(pdf)
    static = fit_segments_grouped(wide, CFG).cache()
    dynamic = fit_segments_grouped(
        wide, CFG, dynamic_split_fraction=DYNAMIC_SPLIT_FRACTION
    ).cache()

    def bytes_of(seg):
        return seg.select(
            F.sum(F.lit(24) + F.length("model") + F.size("gaps") * 4)
        ).first()[0]

    assert bytes_of(dynamic) < bytes_of(static)
    # split happened: some segments cover only one member mid-run
    assert dynamic.where(F.size("tids") == 1).count() > 0
    # reconstruction stays exact
    want = sorted(
        (r["metric"], r["bin_ms"], float(np.float32(r["value"])))
        for r in _narrow(wide).collect()
    )
    got = sorted(
        (r["metric"], r["bin_ms"], float(r["value"]))
        for r in grid_group(dynamic).collect()
    )
    assert got == want


def _bound_check(points, real, bound):
    """(changed, violations) of reconstructed `points` against `real`,
    both (conv_id, metric, bin_ms, value): how many points differ from
    their raw value, and how many break the reference percentage-error
    semantics (Static.java:106-119: approx==real -> 0, real==0 -> inf
    unless equal). Both sides must cover the same points."""
    j = points.select(
        "conv_id", "metric", "bin_ms", F.col("value").alias("approx_f")
    ).join(
        real.select("conv_id", "metric", "bin_ms", F.col("value").alias("real_f")),
        ["conv_id", "metric", "bin_ms"],
    )
    real_d = F.col("real_f").cast("double")
    approx_d = F.col("approx_f").cast("double")
    pct = (
        F.when(approx_d == real_d, F.lit(0.0))
        .when(real_d == 0.0, F.lit(float("inf")))
        .otherwise(F.abs((real_d - approx_d) / real_d) * 100.0)
    )
    assert j.count() == points.count() == real.count()
    row = j.agg(
        F.sum((approx_d != real_d).cast("long")).alias("changed"),
        F.sum((pct > bound).cast("long")).alias("violations"),
    ).first()
    return row["changed"], row["violations"]


def test_group_lossy_bound_holds_on_all_group_paths(spark, wide):
    """At a 5% bound, every point reconstructed from GROUP segments —
    static, ratio-feedback dynamic, and dimension-driven — must satisfy
    the reference percentage-error semantics (Static.java:106-119:
    approx==real -> 0, real==0 -> inf unless equal)."""
    from modelardb_spark.operators.dimgroup import (
        dim_group_members,
        fit_segments_dim_grouped,
    )
    from modelardb_spark.operators.groupfit import DYNAMIC_SPLIT_FRACTION

    lossy = EngineConfig(error_bound=5.0)
    real = _narrow(wide)

    def violations(points):
        return _bound_check(points, real, 5.0)[1]

    assert violations(grid_group(fit_segments_grouped(wide, lossy))) == 0
    assert (
        violations(
            grid_group(
                fit_segments_grouped(
                    wide,
                    lossy,
                    dynamic_split_fraction=DYNAMIC_SPLIT_FRACTION,
                )
            )
        )
        == 0
    )
    from pyspark.sql import functions as SF

    narrow = _narrow(wide)
    dims = spark.createDataFrame(
        [(r["conv_id"], "web") for r in narrow.select("conv_id").distinct().collect()],
        "conv_id string, channel string",
    )
    members = dim_group_members(narrow, dims, by="channel", max_group_size=8)
    from modelardb_spark.operators.dimgroup import explode_dim_group_segments

    gseg = fit_segments_dim_grouped(narrow, members, lossy)
    # reconstruct via the 1m tier (window == bin -> per-point values)
    pts = rollup_from_segments(
        explode_dim_group_segments(gseg, members), 60_000, lossy.interval_ms
    ).select(
        "conv_id", "metric", SF.col("window_ms").alias("bin_ms"),
        SF.col("vmin").alias("value"),
    )
    assert violations(pts) == 0


def test_lossy_fits_approximate_within_bound(spark):
    """On an input whose bins vary within 5%, the 5%-bound fits must
    actually approximate (some reconstructed value differs from its raw
    value) and still hold the bound on every point: the fused
    per-series fit through `grid`, and the static, ratio-feedback
    dynamic and dimension group fits through their explodes."""
    from modelardb_spark.operators.dimgroup import (
        dim_group_members,
        explode_dim_group_segments,
        fit_segments_dim_grouped,
    )
    from modelardb_spark.operators.fit import fit_segments_from_transcripts
    from modelardb_spark.operators.groupfit import DYNAMIC_SPLIT_FRACTION
    from modelardb_spark.operators.grid import grid
    from modelardb_spark.operators.series import derive_series

    # 60-62 turns per minute for 40 minutes; every turn but at most one
    # per minute calls a tool, so both metrics of every conversation
    # stay within 5% of each other
    rng = np.random.default_rng(11)
    t0 = pd.Timestamp("2024-01-08 10:00:00")
    rows = [
        (f"conv-{c}", t0 + pd.Timedelta(minutes=m, milliseconds=900 * i),
         None if i < skip else "search")
        for c in range(3)
        for m in range(40)
        for skip, k in [(int(rng.integers(0, 2)), 60 + int(rng.integers(0, 3)))]
        for i in range(k)
    ]
    t = spark.createDataFrame(
        pd.DataFrame(rows, columns=["conv_id", "ts", "tool"]),
        "conv_id string, ts timestamp, tool string",
    )
    lossy = EngineConfig(error_bound=5.0)
    narrow = derive_series(t, lossy)
    wide = derive_series_wide(t, lossy)
    dims = spark.createDataFrame(
        [(f"conv-{c}", "web") for c in range(3)], "conv_id string, channel string"
    )
    members = dim_group_members(narrow, dims, by="channel", max_group_size=8)
    paths = {
        "per_series": grid(fit_segments_from_transcripts(t, lossy)),
        "static": grid_group(fit_segments_grouped(wide, lossy)),
        "dynamic": grid_group(
            fit_segments_grouped(
                wide, lossy, dynamic_split_fraction=DYNAMIC_SPLIT_FRACTION
            )
        ),
        "dimension": grid(
            explode_dim_group_segments(
                fit_segments_dim_grouped(narrow, members, lossy), members
            )
        ),
    }
    for name, points in paths.items():
        changed, violations = _bound_check(points, narrow, 5.0)
        assert changed > 0, name
        assert violations == 0, name


def test_gap_protocol_explode(spark):
    """A member missing for a stretch must (a) split the run, (b) be
    recorded in `gaps` (absent-tid protocol, SegmentGroup.java:51-111),
    and (c) be absent from the exploded output for that span."""
    bins = [60_000 * i for i in range(10)]
    pdf = pd.DataFrame(
        {
            "conv_id": ["c"] * 10,
            "bin_ms": bins,
            "turn_rate": [2.0] * 10,
            # tool_usage in a gap for bins 3..6
            "tool_usage": [1.0, 1.0, 1.0, None, None, None, None, 1.0, 1.0, 1.0],
        }
    )
    wide = spark.createDataFrame(pdf)
    gseg = fit_segments_grouped(wide, CFG).cache()
    rows = gseg.collect()
    # runs: [0..2] both, [3..6] turn_rate only, [7..9] both
    gapped = [r for r in rows if r["gaps"]]
    assert gapped and all(r["gaps"] == [1] for r in gapped)
    assert all(r["group_size"] == 1 and r["tids"] == [0] for r in gapped)
    full = [r for r in rows if not r["gaps"]]
    assert full and all(r["group_size"] == 2 and r["tids"] == [0, 1] for r in full)

    pts = grid_group(gseg)
    tool_bins = sorted(
        r["bin_ms"] for r in pts.where("metric = 'tool_usage'").collect()
    )
    assert tool_bins == [60_000 * i for i in (0, 1, 2, 7, 8, 9)]
    turn_bins = sorted(
        r["bin_ms"] for r in pts.where("metric = 'turn_rate'").collect()
    )
    assert turn_bins == bins
    # segment aggregates survive the explode per member
    segs = explode_group_segments(gseg)
    agg = {
        (r["metric"],): r
        for r in segs.groupBy("metric").agg(F.sum("seg_cnt").alias("c")).collect()
    }
    assert agg[("turn_rate",)]["c"] == 10
    assert agg[("tool_usage",)]["c"] == 6


def test_adaptive_fit_does_not_leak_cached_rdds(spark, wide):
    """fit_segments_adaptive shares its routed frame via localCheckpoint
    (RDD-scoped blocks), not persist() (session-scoped CacheManager
    entry): a long-lived query-server session must not accumulate one
    cached entry per call. After dropping the returned frames, the JVM
    ContextCleaner reclaims the blocks."""
    import gc
    import time

    from modelardb_spark.operators.groupfit import fit_segments_adaptive

    jsc = spark.sparkContext._jsc.sc()

    def n_persistent():
        return jsc.getPersistentRDDs().size()

    base = n_persistent()
    for _ in range(3):
        g, p = fit_segments_adaptive(wide, CFG)
        assert g.count() + p.count() > 0
        del g, p
    gc.collect()
    spark.sparkContext._jvm.System.gc()
    deadline = time.time() + 30
    while time.time() < deadline and n_persistent() > base:
        time.sleep(0.5)
        gc.collect()
        spark.sparkContext._jvm.System.gc()
    assert n_persistent() <= base, (
        f"persistent RDDs grew {base} -> {n_persistent()} after 3 adaptive calls"
    )


def test_adaptive_fit_reliable_checkpoint(spark, wide, tmp_path):
    """checkpoint='reliable' writes the shared routed frame to the
    session's checkpoint dir (survives executor loss — the
    preemptible-cluster setting) and produces exactly the same segments
    as the default localCheckpoint path; without a checkpoint dir it
    fails fast with a clear error."""
    from modelardb_spark.operators.groupfit import fit_segments_adaptive

    sc = spark.sparkContext
    prev = sc.getCheckpointDir()
    if not prev:
        with pytest.raises(ValueError, match="setCheckpointDir"):
            fit_segments_adaptive(wide, CFG, checkpoint="reliable")
    ckdir = str(tmp_path / "ck")
    sc.setCheckpointDir(ckdir)
    try:
        g_r, p_r = fit_segments_adaptive(wide, CFG, checkpoint="reliable")
        g_l, p_l = fit_segments_adaptive(wide, CFG, checkpoint="local")
        rows = lambda df: sorted(map(tuple, df.collect()))
        assert rows(g_r) == rows(g_l)
        assert rows(p_r) == rows(p_l)
        import os

        assert any(os.scandir(ckdir))  # the reliable checkpoint landed
        with pytest.raises(ValueError, match="local.*reliable|reliable"):
            fit_segments_adaptive(wide, CFG, checkpoint="bogus")
    finally:
        if prev:
            sc.setCheckpointDir(prev)


def test_group_fit_matches_sequential_replay(spark, wide, gseg):
    """The vectorized group cascade must emit exactly the segments the
    sequential reference-style replay produces (same greedy fold over
    the interleaved stream) — (start, end, mtid, model bytes, n) per
    conversation, in order."""
    from tests.reference_oracle import oracle_fit_group_run

    rows = (
        wide.select("conv_id", "bin_ms", "turn_rate", "tool_usage")
        .orderBy("conv_id", "bin_ms")
        .collect()
    )
    per_conv: dict[str, list] = {}
    for r in rows:
        per_conv.setdefault(r["conv_id"], []).append(
            (r["bin_ms"], r["turn_rate"], r["tool_usage"])
        )
    expected: dict[str, list] = {}
    for conv, triples in per_conv.items():
        bins = np.array([t[0] for t in triples], dtype=np.int64)
        v2d = np.column_stack(
            [
                np.array([t[1] for t in triples], dtype=np.float32),
                np.array([t[2] for t in triples], dtype=np.float32),
            ]
        )
        brk = np.zeros(bins.size, dtype=bool)
        brk[1:] = ((bins[1:] // 86_400_000) != (bins[:-1] // 86_400_000)) | (
            (bins[1:] - bins[:-1]) > 60_000
        )
        bounds = [0, *np.flatnonzero(brk).tolist(), bins.size]
        segs = expected.setdefault(conv, [])
        for s, e in zip(bounds[:-1], bounds[1:]):
            segs.extend(
                oracle_fit_group_run(bins[s:e], v2d[s:e], CFG.error_bound, 50)
            )
    got: dict[str, list] = {}
    for r in gseg.orderBy("conv_id", "start_ms").collect():
        got.setdefault(r["conv_id"], []).append(
            (r["start_ms"], r["end_ms"], r["mtid"], bytes(r["model"]), r["n"])
        )
    assert set(got) == set(expected)
    for conv in got:
        assert sorted(got[conv]) == sorted(expected[conv]), conv


def test_arrow_explode_matches_spark_explode(spark, sf_medium):
    """`explode_group_members` (in a task, on Arrow rows) yields the
    rows of `explode_group_segments`, in the same order, with the same
    column types."""
    from pyspark.sql.pandas.types import from_arrow_schema

    from modelardb_spark.operators.groupfit import explode_group_members

    wide = derive_series_wide(transcripts_from_events(spark, sf_medium))
    gseg = fit_segments_grouped(wide, EngineConfig(error_bound=5.0)).cache()
    try:
        want = explode_group_segments(gseg)
        got = explode_group_members(gseg.toArrow())
        assert [f.dataType for f in from_arrow_schema(got.schema)] == [
            f.dataType for f in want.schema]
        assert got.column_names == want.columns
        assert [tuple(d.values()) for d in got.to_pylist()] == [tuple(r) for r in want.collect()]
        assert (pd.Series(got.column("gsize").to_numpy()) > 1).any()
    finally:
        gseg.unpersist()
