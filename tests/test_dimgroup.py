"""Dimension-driven cross-entity grouping tests: registry stability,
exact reconstruction at bound 0 on the transcripts workload, and the
stored-bytes win on a dense aligned fixture (the case the reference's
dimension-member Correlation clauses target)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from modelardb_spark.config import EngineConfig
from modelardb_spark.operators.dimensions import conversation_dimensions
from modelardb_spark.operators.dimgroup import (
    dim_group_members,
    explode_dim_group_segments,
    fit_segments_dim_grouped,
    materialize_members,
)
from modelardb_spark.operators.rollup import HOUR_MS, MINUTE_MS, rollup_from_segments
from modelardb_spark.operators.series import derive_series
from modelardb_spark.operators.transcripts import transcripts_from_events

CFG = EngineConfig(error_bound=0.0)


@pytest.fixture(scope="module")
def series(spark, sf_small):
    s = derive_series(transcripts_from_events(spark, sf_small), CFG).cache()
    s.count()
    return s


def test_member_registry_stable_and_bounded(spark, series):
    dims = conversation_dimensions(series)
    members = dim_group_members(series, dims, by="channel", max_group_size=8)
    rows = members.collect()
    # every series registered exactly once
    assert len(rows) == series.select("conv_id", "metric").distinct().count()
    by_g = {}
    for r in rows:
        by_g.setdefault(r["gkey"], []).append(r)
    for g, ms in by_g.items():
        assert len(ms) <= 8
        assert all(r["gsize"] == len(ms) for r in ms)
        assert sorted(r["midx"] for r in ms) == list(range(len(ms)))


def test_materialize_members_lossless(spark):
    """The registry round trip keeps a nullable bigint column exact,
    null included (a pandas hop would make it float64)."""
    rows = [("a", 2**53 + 1, 0), ("b", None, 1), ("c", -7, 2)]
    df = spark.createDataFrame(rows, "gkey STRING, big BIGINT, midx INT")
    out = materialize_members(df)
    assert out.schema == df.schema
    assert sorted(out.collect()) == sorted(df.collect())


def test_dim_group_rollup_matches_raw(spark, series):
    dims = conversation_dimensions(series)
    members = dim_group_members(series, dims, by="channel", max_group_size=8)
    gseg = fit_segments_dim_grouped(series, members, CFG)
    got = {
        (r["conv_id"], r["metric"], r["window_ms"]): (
            r["cnt"], float(r["vmin"]), float(r["vmax"]), round(r["vsum"], 6),
        )
        for r in rollup_from_segments(
            explode_dim_group_segments(gseg, members), HOUR_MS, CFG.interval_ms
        ).collect()
    }
    raw = (
        series.groupBy(
            "conv_id",
            "metric",
            ((F.col("bin_ms") / HOUR_MS).cast("long") * HOUR_MS).alias("window_ms"),
        )
        .agg(
            F.count("*").alias("cnt"),
            F.min("value").cast("double").alias("vmin"),
            F.max("value").cast("double").alias("vmax"),
            F.sum(F.col("value").cast("double")).alias("vsum"),
        )
    )
    want = {
        (r["conv_id"], r["metric"], r["window_ms"]): (
            r["cnt"], r["vmin"], r["vmax"], round(r["vsum"], 6),
        )
        for r in raw.collect()
    }
    assert got == want


def test_dim_group_wins_on_dense_aligned_members(spark):
    """Four conversations in one channel, all metrics constant and
    dense on the same grid: ONE group PMC row must replace eight
    per-series rows — the dimension clause's intended payoff."""
    n = 200
    bins = [60_000 * i for i in range(n)]
    pdfs = []
    for c in range(4):
        for m in ("turn_rate", "tool_usage"):
            pdfs.append(
                pd.DataFrame(
                    {
                        "conv_id": [f"conv{c}"] * n,
                        "metric": [m] * n,
                        "bin_ms": bins,
                        "value": np.float32(5.0),
                    }
                )
            )
    series = spark.createDataFrame(pd.concat(pdfs, ignore_index=True))
    dims = spark.createDataFrame(
        [(f"conv{c}", "web") for c in range(4)], "conv_id string, channel string"
    )
    members = dim_group_members(series, dims, by="channel", max_group_size=8)
    gseg = fit_segments_dim_grouped(series, members, CFG).cache()
    rows = gseg.collect()
    assert all(r["group_size"] == 8 and not r["gaps"] for r in rows)
    grp_bytes = sum(24 + len(r["model"]) + 4 * len(r["gaps"]) for r in rows)
    # per-series floor: 8 series x (24 + 4) PMC bytes minimum
    assert grp_bytes < 8 * 28
    # and the exploded members reconstruct per real (conv_id, metric)
    seg = explode_dim_group_segments(gseg, members)
    agg = seg.groupBy("conv_id", "metric").agg(F.sum("seg_cnt").alias("c"))
    assert all(r["c"] == n for r in agg.collect())
    r1m = rollup_from_segments(seg, MINUTE_MS, CFG.interval_ms)
    assert r1m.count() == 8 * n
    assert r1m.where("vmin != 5.0 OR vmax != 5.0 OR cnt != 1").count() == 0


def _mixed_dense_series(spark):
    """Five conversations on a shared 120-bin grid (the channel
    dimension puts them in groups of one and two), staggered so the
    active-member set changes, with one member absent for ten bins. Every present member holds the same constant, then the
    same line, then its own seeded noise, so the group runs go through
    PMC, Swing and Gorilla with and without gaps."""
    rng = np.random.default_rng(0)
    recs = []
    for c in range(5):
        for m in ("turn_rate", "tool_usage"):
            for i in range(3 * c, 120 - 2 * c):
                if c == 4 and m == "tool_usage" and 60 <= i < 70:
                    continue
                v = 2.0 if i < 40 else 1.0 + 0.5 * i if i < 80 else rng.integers(8)
                recs.append((f"conv{c}", m, 60_000 * i, float(v)))
    return spark.createDataFrame(
        recs, "conv_id string, metric string, bin_ms bigint, value float"
    )


def test_dim_group_fit_matches_sequential_replay(spark, series):
    """The dimension-group fit must emit exactly the segments the
    sequential reference-style replay produces over each run of a
    stable active-member set — (start, end, mtid, model bytes, n, tids,
    gaps) per group, with the absent members counted in the ratio's gap
    term — on the fixture's sparse series and on a dense mixed one."""
    for s in (series, _mixed_dense_series(spark)):
        _assert_dim_group_replay(s)


def _assert_dim_group_replay(series):
    from tests.reference_oracle import oracle_fit_group_run

    dims = conversation_dimensions(series)
    members = dim_group_members(series, dims, by="channel", max_group_size=8)
    gseg = fit_segments_dim_grouped(series, members, CFG)
    rows = (
        series.join(members, ["conv_id", "metric"])
        .select("gkey", "bin_ms", "midx", "value", "gsize")
        .collect()
    )
    bins: dict[str, dict[int, dict[int, float]]] = {}
    gsize: dict[str, int] = {}
    for r in rows:
        bins.setdefault(r["gkey"], {}).setdefault(r["bin_ms"], {})[r["midx"]] = r[
            "value"
        ]
        gsize[r["gkey"]] = r["gsize"]
    expected: dict[str, list] = {}
    for gkey, by_bin in bins.items():
        ts = sorted(by_bin)
        runs: list[list[int]] = []
        for t in ts:
            prev = runs[-1][-1] if runs else None
            if (
                prev is None
                or t - prev > CFG.interval_ms
                or t // 86_400_000 != prev // 86_400_000
                or sorted(by_bin[t]) != sorted(by_bin[prev])
            ):
                runs.append([])
            runs[-1].append(t)
        segs = expected.setdefault(gkey, [])
        for run in runs:
            tids = sorted(by_bin[run[0]])
            gaps = [m for m in range(gsize[gkey]) if m not in tids]
            v2d = np.array(
                [[by_bin[t][m] for m in tids] for t in run], dtype=np.float32
            )
            segs.extend(
                (*seg, tids, gaps)
                for seg in oracle_fit_group_run(
                    np.array(run, dtype=np.int64),
                    v2d,
                    CFG.error_bound,
                    50,
                    len(gaps),
                )
            )
    got: dict[str, list] = {}
    for r in gseg.collect():
        got.setdefault(r["conv_id"], []).append(
            (
                r["start_ms"],
                r["end_ms"],
                r["mtid"],
                bytes(r["model"]),
                r["n"],
                list(r["tids"]),
                list(r["gaps"]),
            )
        )
    assert set(got) == set(expected)
    for gkey in got:
        assert sorted(got[gkey]) == sorted(expected[gkey]), gkey
