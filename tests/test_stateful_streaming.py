"""Stateful streaming fit: segments must SPAN micro-batches and come
out IDENTICAL to a batch fit over the concatenated input — the
temporary-segment machinery re-expressed on applyInPandasWithState."""

from __future__ import annotations

import os
from datetime import datetime, timezone

import pytest
from pyspark.sql import functions as F

from modelardb_spark.config import EngineConfig
from modelardb_spark.operators.series import derive_series
from modelardb_spark.streaming.stateful import stream_ingest_stateful
from tests.reference_oracle import fit_segments

BASE = 1_704_067_200_000
MIN = 60_000


def _frame(spark, items):
    """items: (conv, offset_ms, tool)."""
    return spark.createDataFrame(
        [
            (c, i, "user", "t", tool,
             datetime.fromtimestamp((BASE + off) / 1000, tz=timezone.utc))
            for i, (c, off, tool) in enumerate(items)
        ],
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    )


def _await_finals_batch_done(spark, q, out_root, timeout_s=120):
    """Block until the micro-batch that wrote the newest finalized rows
    has completed. The emit_temporary sink writes the finals before it
    reconciles the temporaries, so a stop() issued as soon as the
    finals are readable can interrupt the batch between the two writes
    and leave its temporaries unreconciled until the batch replays."""
    import time as _time

    newest = (
        spark.read.parquet(f"{out_root}/segments_stream")
        .agg(F.max("batch"))
        .first()[0]
    )
    assert newest is not None, "no finalized segments were written"
    deadline = _time.time() + timeout_s
    while _time.time() < deadline:
        if q.exception():
            raise AssertionError(str(q.exception())[:2000])
        done = q.lastProgress
        if done is not None and done.batchId >= newest:
            return
        _time.sleep(0.5)
    raise AssertionError(f"micro-batch {newest} did not complete")


def test_segments_span_micro_batches(spark, tmp_path):
    # conversation 'x': one 20-bin run with varying counts, split across
    # drops MID-RUN and MID-BIN (bin 9 has turns in both drops); then a
    # gap, a second 5-bin run, and a far-future sentinel that closes it.
    items = []
    for b in range(20):
        items.append(("x", b * MIN, "click" if b % 3 == 0 else None))
        if b % 2 == 0:
            items.append(("x", b * MIN + 30_000, None))
    run2 = [("x", (40 + b) * MIN, None) for b in range(5)]
    sentinel = [("x", 10_000 * MIN, None)]

    # split: first drop ends mid-bin-9 (the 30s turn of bin 9 goes to drop 2)
    cut = next(i for i, (c, off, t) in enumerate(items) if off > 9 * MIN + 10)
    drop1, drop2 = items[:cut], items[cut:] + run2 + sentinel

    in_dir = str(tmp_path / "sdrops")
    os.makedirs(in_dir)
    _frame(spark, drop1).coalesce(1).write.parquet(f"{in_dir}/d1.parquet")
    _frame(spark, drop2).coalesce(1).write.parquet(f"{in_dir}/d2.parquet")

    out_root = str(tmp_path / "sout")
    q = stream_ingest_stateful(
        spark, f"{in_dir}/*.parquet", out_root, EngineConfig(),
        max_files_per_trigger=1,
    )
    # (flush is EVENT-time: the sentinel's open run cannot flush because
    # the watermark never passes it — no wall-clock race exists)
    # poll for the gap-closed segments (processAllAvailable can block on
    # the timeout-cleanup triggers of an unbounded stateful stream)
    import glob
    import time as _time

    want_rows = 4  # >= 2 metrics x 2 closed runs (all emit in one trigger)
    try:
        deadline = _time.time() + 120
        while _time.time() < deadline:
            if q.exception():
                raise AssertionError(str(q.exception())[:2000])
            files = glob.glob(f"{out_root}/segments_stream/part-*.parquet")
            if files:
                try:
                    if spark.read.parquet(
                        f"{out_root}/segments_stream"
                    ).count() >= want_rows:
                        break
                except Exception:
                    pass  # sink mid-commit; retry
            _time.sleep(2)
    finally:
        q.stop()

    got_df = spark.read.parquet(f"{out_root}/segments_stream")
    sentinel_bin = (BASE + 10_000 * MIN) // MIN * MIN
    got_rows = got_df.collect()
    got = {
        (r["conv_id"], r["metric"], r["start_ms"], r["end_ms"], r["mtid"],
         bytes(r["model"]))
        for r in got_rows
    }
    assert len(got_rows) == len(got)  # exactly-once emission
    # batch reference over the FULL input; the sentinel's own (still
    # open in the stream) segments are excluded from the comparison
    full = _frame(spark, drop1 + drop2)
    want_df = fit_segments(derive_series(full), EngineConfig())
    want = {
        (r["conv_id"], r["metric"], r["start_ms"], r["end_ms"], r["mtid"],
         bytes(r["model"]))
        for r in want_df.where(F.col("start_ms") < sentinel_bin).collect()
    }
    assert got == want
    # the run that straddled the drops produced segments crossing the
    # batch boundary (start before bin 9, end after): prove spanning
    spanning = [s for s in got if s[2] <= 8 * MIN + BASE and s[3] >= 10 * MIN + BASE]
    assert spanning, sorted(s[2:4] for s in got)


def test_grouped_segments_span_micro_batches(spark, tmp_path):
    """grouped=True: the stream's GROUP segments (interleaved models,
    one row covers both metrics) must equal `fit_segments_grouped` over
    the concatenated input, including runs that straddle the drops."""
    import glob
    import time as _time

    from modelardb_spark.operators.groupfit import fit_segments_grouped
    from modelardb_spark.operators.series import derive_series_wide
    from modelardb_spark.streaming.stateful import stream_ingest_stateful

    items = []
    for b in range(20):
        items.append(("x", b * MIN, "click" if b % 3 == 0 else None))
        if b % 2 == 0:
            items.append(("x", b * MIN + 30_000, None))
    run2 = [("x", (40 + b) * MIN, None) for b in range(5)]
    sentinel = [("x", 10_000 * MIN, None)]
    cut = next(i for i, (c, off, t) in enumerate(items) if off > 9 * MIN + 10)
    drop1, drop2 = items[:cut], items[cut:] + run2 + sentinel

    in_dir = str(tmp_path / "gdrops")
    os.makedirs(in_dir)
    _frame(spark, drop1).coalesce(1).write.parquet(f"{in_dir}/d1.parquet")
    _frame(spark, drop2).coalesce(1).write.parquet(f"{in_dir}/d2.parquet")

    out_root = str(tmp_path / "gout")
    q = stream_ingest_stateful(
        spark, f"{in_dir}/*.parquet", out_root, EngineConfig(),
        max_files_per_trigger=1, grouped=True,
    )
    try:
        deadline = _time.time() + 120
        while _time.time() < deadline:
            if q.exception():
                raise AssertionError(str(q.exception())[:2000])
            if glob.glob(f"{out_root}/segments_stream/part-*.parquet"):
                try:
                    if spark.read.parquet(
                        f"{out_root}/segments_stream"
                    ).count() >= 2:  # >= 2 closed group runs
                        break
                except Exception:
                    pass
            _time.sleep(2)
    finally:
        q.stop()

    def key(r):
        return (
            r["conv_id"], r["start_ms"], r["end_ms"], r["mtid"],
            bytes(r["model"]), tuple(r["tids"]), tuple(r["gaps"]),
        )

    got_rows = spark.read.parquet(f"{out_root}/segments_stream").collect()
    got = {key(r) for r in got_rows}
    assert len(got_rows) == len(got)  # exactly-once emission
    sentinel_bin = (BASE + 10_000 * MIN) // MIN * MIN
    full = _frame(spark, drop1 + drop2)
    want = {
        key(r)
        for r in fit_segments_grouped(derive_series_wide(full), EngineConfig())
        .where(F.col("start_ms") < sentinel_bin)
        .collect()
    }
    assert got == want
    # group rows genuinely cover both metrics in one model
    assert any(len(k[5]) == 2 for k in got)


def test_event_time_timeout_flushes_idle_run(spark, tmp_path):
    """The watermark passing an idle conversation's tail + allowance
    must flush its open run via the timeout branch — and only then."""
    import glob
    import time as _time

    in_dir = str(tmp_path / "tdrops")
    os.makedirs(in_dir)
    # conv 'x': one 5-bin run, never closed by a gap of its own
    _frame(spark, [("x", b * MIN, None) for b in range(5)]).coalesce(1).write.parquet(
        f"{in_dir}/d1.parquet"
    )
    # conv 'y' far in the future: advances the global watermark past
    # x's tail + flush allowance
    _frame(spark, [("y", 5_000 * MIN, None)]).coalesce(1).write.parquet(
        f"{in_dir}/d2.parquet"
    )

    out_root = str(tmp_path / "tout")
    q = stream_ingest_stateful(
        spark, f"{in_dir}/*.parquet", out_root, EngineConfig(),
        max_files_per_trigger=1, flush_after_ms=60_000,
    )
    try:
        deadline = _time.time() + 120
        found = False
        while _time.time() < deadline and not found:
            if q.exception():
                raise AssertionError(str(q.exception())[:2000])
            if glob.glob(f"{out_root}/segments_stream/part-*.parquet"):
                try:
                    rows = spark.read.parquet(
                        f"{out_root}/segments_stream"
                    ).collect()
                    found = any(r["conv_id"] == "x" for r in rows)
                except Exception:
                    pass
            _time.sleep(2)
    finally:
        q.stop()
    assert found
    xs = [r for r in rows if r["conv_id"] == "x"]
    want = {
        (r["metric"], r["start_ms"], r["end_ms"], bytes(r["model"]))
        for r in fit_segments(
            derive_series(_frame(spark, [("x", b * MIN, None) for b in range(5)])),
            EngineConfig(),
        ).collect()
    }
    assert {(r["metric"], r["start_ms"], r["end_ms"], bytes(r["model"])) for r in xs} == want
    # y's run is still open (watermark never passed it): not emitted
    assert all(r["conv_id"] == "x" for r in rows)


def test_stateful_stream_recovers_after_restart(spark, tmp_path):
    """The open run survives a query stop/start (state checkpoint):
    drop 1 is processed, the query dies, a NEW query on the same
    checkpoint processes drop 2 — the spanning run must still come out
    exactly as the batch fit."""
    import glob
    import time as _time

    in_dir = str(tmp_path / "rdrops")
    os.makedirs(in_dir)
    run = [("x", b * MIN, None) for b in range(12)]
    tail = [("x", (40 + b) * MIN, None) for b in range(3)]
    sentinel = [("x", 10_000 * MIN, None)]
    _frame(spark, run[:7]).coalesce(1).write.parquet(f"{in_dir}/d1.parquet")

    out_root = str(tmp_path / "rout")
    q1 = stream_ingest_stateful(
        spark, f"{in_dir}/*.parquet", out_root, EngineConfig(),
        max_files_per_trigger=4,
    )
    # let it commit batch 1 (no output yet: the run is open), then die
    deadline = _time.time() + 60
    ckpt = f"{out_root}/_stateful_checkpoint"
    while _time.time() < deadline:
        if glob.glob(f"{ckpt}/commits/*"):
            break
        _time.sleep(1)
    q1.stop()
    assert glob.glob(f"{ckpt}/commits/*"), "first batch never committed"

    # second half arrives while the query is DOWN
    _frame(spark, run[7:] + tail + sentinel).coalesce(1).write.parquet(
        f"{in_dir}/d2.parquet"
    )
    q2 = stream_ingest_stateful(
        spark, f"{in_dir}/*.parquet", out_root, EngineConfig(),
        max_files_per_trigger=4,
    )
    try:
        deadline = _time.time() + 120
        while _time.time() < deadline:
            if q2.exception():
                raise AssertionError(str(q2.exception())[:2000])
            if glob.glob(f"{out_root}/segments_stream/part-*.parquet"):
                try:
                    if spark.read.parquet(
                        f"{out_root}/segments_stream"
                    ).count() >= 4:
                        break
                except Exception:
                    pass
            _time.sleep(2)
    finally:
        q2.stop()

    sentinel_bin = (BASE + 10_000 * MIN) // MIN * MIN
    got = {
        (r["metric"], r["start_ms"], r["end_ms"], bytes(r["model"]))
        for r in spark.read.parquet(f"{out_root}/segments_stream").collect()
    }
    want = {
        (r["metric"], r["start_ms"], r["end_ms"], bytes(r["model"]))
        for r in fit_segments(
            derive_series(_frame(spark, run + tail + sentinel)), EngineConfig()
        )
        .where(F.col("start_ms") < sentinel_bin)
        .collect()
    }
    assert got == want
    # the 12-bin run spans the restart boundary in one segment set
    assert any(s[1] == BASE and s[2] == BASE + 11 * MIN for s in got)


def test_temporary_segments_visible_mid_stream(spark, tmp_path):
    """emit_temporary mode (SparkCache.scala:167-213): a query BETWEEN
    micro-batches over finalized ∪ temporary segments sees every
    ingested point exactly; when runs finalize, the temporaries are
    truncate-reconciled away and the union equals the batch fit."""
    import glob
    import time as _time

    from modelardb_spark.operators.grid import grid
    from modelardb_spark.streaming.stateful import segments_with_temporary

    # drop 1: one OPEN 10-bin run (no gap, no salt crossing)
    drop1 = [("x", b * MIN, "click" if b % 3 == 0 else None) for b in range(10)]
    # drop 2: continues the run 2 more bins, then a gap-separated run,
    # then a far-future sentinel that closes run 2 but stays open itself
    drop2 = (
        [("x", (10 + b) * MIN, None) for b in range(2)]
        + [("x", (30 + b) * MIN, "click") for b in range(4)]
        + [("x", 10_000 * MIN, None)]
    )

    in_dir = str(tmp_path / "tdrops")
    os.makedirs(in_dir)
    _frame(spark, drop1).coalesce(1).write.parquet(f"{in_dir}/d1.parquet")

    out_root = str(tmp_path / "tout")
    q = stream_ingest_stateful(
        spark, f"{in_dir}/*.parquet", out_root, EngineConfig(),
        max_files_per_trigger=1, emit_temporary=True,
    )

    def _points(df):
        return {
            (r["conv_id"], r["metric"], r["bin_ms"], r["value"])
            for r in grid(df).collect()
        }

    def _expected(items):
        return {
            (r["conv_id"], r["metric"], r["bin_ms"], r["value"])
            for r in derive_series(_frame(spark, items)).collect()
        }

    try:
        # batch 1: nothing finalizes (single open run) — yet every
        # ingested point is already queryable via the temporary side
        deadline = _time.time() + 120
        while _time.time() < deadline:
            if q.exception():
                raise AssertionError(str(q.exception())[:2000])
            if glob.glob(f"{out_root}/temp_segments_stream/conv_id=*/*.parquet"):
                try:
                    if _points(segments_with_temporary(spark, out_root)) \
                            == _expected(drop1):
                        break
                except Exception:
                    pass  # sink mid-commit; retry
            _time.sleep(2)
        assert _points(segments_with_temporary(spark, out_root)) == _expected(
            drop1
        ), "mid-stream query must see every ingested point"

        # batch 2: run 1 and run 2 finalize; the sentinel stays open
        _frame(spark, drop2).coalesce(1).write.parquet(f"{in_dir}/d2.parquet")
        deadline = _time.time() + 120
        while _time.time() < deadline:
            if q.exception():
                raise AssertionError(str(q.exception())[:2000])
            try:
                fin = spark.read.parquet(f"{out_root}/segments_stream")
                if fin.count() >= 4:  # 2 closed runs x 2 metrics
                    break
            except Exception:
                pass
            _time.sleep(2)
        _await_finals_batch_done(spark, q, out_root)
    finally:
        q.stop()

    # the union now equals the FULL input, exactly once per point
    union = segments_with_temporary(spark, out_root)
    pts = [
        (r["conv_id"], r["metric"], r["bin_ms"], r["value"])
        for r in grid(union).collect()
    ]
    assert len(pts) == len(set(pts)), "temporaries must reconcile, not overlap"
    assert set(pts) == _expected(drop1 + drop2)
    # and the finalized side alone matches the batch fit for closed runs
    sentinel_bin = (BASE + 10_000 * MIN) // MIN * MIN
    fin = spark.read.parquet(f"{out_root}/segments_stream")
    got = {
        (r["conv_id"], r["metric"], r["start_ms"], r["end_ms"], r["mtid"],
         bytes(r["model"]))
        for r in fin.select(*[f.name for f in fit_segments(
            derive_series(_frame(spark, drop1))).schema.fields]).collect()
    }
    want = {
        (r["conv_id"], r["metric"], r["start_ms"], r["end_ms"], r["mtid"],
         bytes(r["model"]))
        for r in fit_segments(derive_series(_frame(spark, drop1 + drop2)))
        .where(F.col("start_ms") < sentinel_bin)
        .collect()
    }
    assert got == want


def test_grouped_temporary_segments_union_complete(spark, tmp_path):
    """emit_temporary with grouped=True: the GROUP cascade's open runs
    are queryable too — finalized ∪ temporary group segments decode to
    every ingested point mid-stream."""
    import glob
    import time as _time

    from modelardb_spark.operators.groupfit import grid_group
    from modelardb_spark.streaming.stateful import segments_with_temporary

    drop1 = [("g", b * MIN, "click" if b % 2 == 0 else None) for b in range(8)]
    in_dir = str(tmp_path / "gdrops")
    os.makedirs(in_dir)
    _frame(spark, drop1).coalesce(1).write.parquet(f"{in_dir}/d1.parquet")

    out_root = str(tmp_path / "gout")
    q = stream_ingest_stateful(
        spark, f"{in_dir}/*.parquet", out_root, EngineConfig(),
        max_files_per_trigger=1, grouped=True, emit_temporary=True,
    )

    def _points():
        u = segments_with_temporary(spark, out_root, grouped=True)
        return {
            (r["conv_id"], r["metric"], r["bin_ms"], r["value"])
            for r in grid_group(u).collect()
        }

    expected = {
        (r["conv_id"], r["metric"], r["bin_ms"], r["value"])
        for r in derive_series(_frame(spark, drop1)).collect()
    }
    try:
        deadline = _time.time() + 120
        ok = False
        while _time.time() < deadline:
            if q.exception():
                raise AssertionError(str(q.exception())[:2000])
            if glob.glob(f"{out_root}/temp_segments_stream/conv_id=*/*.parquet"):
                try:
                    if _points() == expected:
                        ok = True
                        break
                except Exception:
                    pass
            _time.sleep(2)
        assert ok, "grouped mid-stream union must see every ingested point"
    finally:
        q.stop()


def test_temporary_reconcile_with_escaped_conv_id(spark, tmp_path):
    """Partition-escaped conversation ids (':' becomes %3A in Spark's
    partition dir name) must still truncate their temporaries on
    finalize — the reconcile delete targets the escaped path."""
    import glob
    import time as _time

    from modelardb_spark.operators.grid import grid
    from modelardb_spark.streaming.stateful import segments_with_temporary

    conv = "user:42/a"
    drop1 = [(conv, b * MIN, None) for b in range(6)]
    # gap closes run 1; sentinel keeps the stream's watermark moving
    drop2 = [(conv, (20 + b) * MIN, None) for b in range(3)] + [
        (conv, 10_000 * MIN, None)
    ]
    in_dir = str(tmp_path / "edrops")
    os.makedirs(in_dir)
    _frame(spark, drop1).coalesce(1).write.parquet(f"{in_dir}/d1.parquet")

    out_root = str(tmp_path / "eout")
    q = stream_ingest_stateful(
        spark, f"{in_dir}/*.parquet", out_root, EngineConfig(),
        max_files_per_trigger=1, emit_temporary=True,
    )
    try:
        deadline = _time.time() + 120
        while _time.time() < deadline:
            if q.exception():
                raise AssertionError(str(q.exception())[:2000])
            if glob.glob(f"{out_root}/temp_segments_stream/conv_id=*/*.parquet"):
                break
            _time.sleep(2)
        _frame(spark, drop2).coalesce(1).write.parquet(f"{in_dir}/d2.parquet")
        deadline = _time.time() + 120
        while _time.time() < deadline:
            if q.exception():
                raise AssertionError(str(q.exception())[:2000])
            try:
                if spark.read.parquet(f"{out_root}/segments_stream").count() >= 2:
                    break
            except Exception:
                pass
            _time.sleep(2)
        _await_finals_batch_done(spark, q, out_root)
    finally:
        q.stop()
    # no stale temporaries: every grid point appears exactly once
    pts = [
        (r["conv_id"], r["metric"], r["bin_ms"])
        for r in grid(segments_with_temporary(spark, out_root)).collect()
    ]
    assert len(pts) == len(set(pts)), "stale escaped-path temporaries survived"
    expected = {
        (r["conv_id"], r["metric"], r["bin_ms"])
        for r in derive_series(_frame(spark, drop1 + drop2)).collect()
    }
    assert set(pts) == expected


def test_temp_writer_reconcile_is_distributed_and_type_safe(spark, tmp_path):
    """The emit_temporary sink's reconcile semantics, exercised directly
    on batch frames (foreachBatch hands the writer plain DataFrames):

    - temporaries replace their conv's partition via DYNAMIC partition
      overwrite — no driver rmtree loop, special characters in conv_id
      handled by Spark's own partition-path escaping;
    - a conv that emits ONLY finals truncates its stale temporaries
      (tombstone row, filtered by the union view);
    - numeric-looking conv_ids ("0123") survive the partition-column
      round trip as STRINGS (explicit-schema read, no type inference).
    """
    from pyspark.sql import Row

    from modelardb_spark.operators.fit import SEGMENT_SCHEMA
    from modelardb_spark.streaming.stateful import (
        _temp_visible_writer,
        segments_with_temporary,
    )

    def seg_row(conv, metric, start, temporary):
        return Row(
            conv_id=conv, metric=metric, start_ms=start, end_ms=start + 1000,
            interval_ms=1000, mtid=2, model=bytes([0, 0, 0, 0]), n=2,
            seg_cnt=2, seg_min=1.0, seg_max=1.0, seg_sum=2.0,
            p0=1.0, p1=None, temporary=temporary,
        )

    from pyspark.sql.types import BooleanType, StructField, StructType

    # fresh copy: StructType.add would MUTATE the shared SEGMENT_SCHEMA
    schema = StructType(
        list(SEGMENT_SCHEMA.fields) + [StructField("temporary", BooleanType(), False)]
    )
    out_root = str(tmp_path / "stateful_out")
    write = _temp_visible_writer(out_root)

    # batch 0: "0123" final+temp, "a:b" temp-only
    write(
        spark.createDataFrame(
            [
                seg_row("0123", "turn_rate", 0, False),
                seg_row("0123", "turn_rate", 5000, True),
                seg_row("a:b", "turn_rate", 0, True),
            ],
            schema,
        ),
        0,
    )
    vis = segments_with_temporary(spark, out_root)
    rows = {(r["conv_id"], r["start_ms"]) for r in vis.collect()}
    assert rows == {("0123", 0), ("0123", 5000), ("a:b", 0)}
    assert dict(vis.dtypes)["conv_id"] == "string"

    # batch 1: "0123" finalizes its open run (final only, NO temp rows)
    # -> its stale temporary must disappear; "a:b" untouched
    write(
        spark.createDataFrame([seg_row("0123", "turn_rate", 5000, False)], schema),
        1,
    )
    rows = {
        (r["conv_id"], r["start_ms"])
        for r in segments_with_temporary(spark, out_root).collect()
    }
    assert rows == {("0123", 0), ("0123", 5000), ("a:b", 0)}

    # batch 2: "a:b" re-emits a replacement temporary -> old one replaced
    write(
        spark.createDataFrame([seg_row("a:b", "turn_rate", 9000, True)], schema),
        2,
    )
    rows = {
        (r["conv_id"], r["start_ms"])
        for r in segments_with_temporary(spark, out_root).collect()
    }
    assert rows == {("0123", 0), ("0123", 5000), ("a:b", 9000)}
