"""Resumable ingest pipeline: transcripts -> segments -> rollup tiers.

Run via spark-submit (north rule):

    spark-submit --py-files modelardb_spark.zip -m modelardb_spark.jobs.ingest \
        --events /root/testdata/sf0.1/events.parquet --out /tmp/mdb

Resume design: the unit of work is the UTC day (= the segment salt, so
segments and all rollup windows are self-contained per day). One pass
over the input, projected to the columns the fit needs, writes the
`time_series` table and observes which days hold data. Days are
processed in chunks; each chunk reads the same projection filtered to
its days, with the chunk's `ts` range pushed down to the scan. Each
completed chunk dynamically overwrites exactly its partition
directories and records one checkpoint row per day with lineage (input
snapshot id) and metrics (rows in/out, wall ms). A killed job re-runs
only days without a `done` checkpoint for the same snapshot, and
because writes are per-partition overwrites the final tables are
identical to a single uninterrupted run (test: tests/test_resume.py).
The contract is that `snapshot_id` names an immutable input: a re-run
under the same id must be given the same rows, since nothing of the
input is kept between runs.

Tiers: `tiers` is the one derive -> fit -> 1m/1h/1d pipeline (fit via
`fit_turns`, 1m/1h via `rollup_from_segments`, 1d cascaded from 1h).
`ingest` writes each frame it yields and `bench.headline_pipeline`
counts them, so the bench measures this code minus the writes.

Layout: every table holds one data file per day partition. The fitted
segments are rebalanced by day once; the segments write and the
map-only 1m tier inherit that clustering, and the 1h and 1d outputs are
rebalanced the same way. AQE packs small days into one task and splits
a day past its advisory partition size (README.md "Scale design" has
why the file count matters).
"""

from __future__ import annotations

import argparse
import time
from collections.abc import Iterator

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import TimestampType

import modelardb_spark.operators.fit as fitmod
from modelardb_spark.config import EngineConfig
from modelardb_spark.io.checkpoints import CheckpointStore
from modelardb_spark.io.tables import DAY_MS, model_type_table, with_part_key
from modelardb_spark.operators.groupfit import (
    explode_group_segments,
    fit_segments_grouped,
)
from modelardb_spark.operators.rollup import (
    HOUR_MS,
    MINUTE_MS,
    rollup_cascade,
    rollup_from_segments,
)
from modelardb_spark.operators.series import METRICS, derive_series_wide


def _day_of_ts(col):
    return (F.unix_millis(F.col(col).cast("timestamp")) / DAY_MS).cast("long")


def _ts_bounds(ts_type, days: list[int]):
    """[lo, hi) literals of the input's own `ts` type around the sorted
    `days`: compared with the bare column, they reach the scan as
    pushed filters. TIMESTAMP_NTZ values map to days through the
    session time zone, so their range is widened by a day each side."""
    pad = 0 if isinstance(ts_type, TimestampType) else 1
    lo, hi = (days[0] - pad) * DAY_MS, (days[-1] + 1 + pad) * DAY_MS
    return [F.timestamp_millis(F.lit(ms)).cast(ts_type) for ms in (lo, hi)]


def fit_turns(
    turns: DataFrame,
    cfg: EngineConfig,
    grouped: bool = False,
    dynamic_split_fraction: float | None = None,
) -> DataFrame:
    """Turns (conv_id, ts, tool) -> segments. Per series: the fused
    derive+fit (one shuffle of minimal turn rows), looked up on
    `operators.fit` at each call so a wrapper installed there sees
    every fit. `grouped=True`: the wide series fitted as one group per
    conversation (groupfit.py), with the ratio-feedback dynamic
    split/join when `dynamic_split_fraction` is set."""
    if not grouped:
        return fitmod.fit_segments_from_transcripts(turns, cfg)
    return fit_segments_grouped(
        derive_series_wide(turns, cfg), cfg, dynamic_split_fraction=dynamic_split_fraction
    )


def tiers(
    turns: DataFrame,
    cfg: EngineConfig,
    grouped: bool = False,
    dynamic_split_fraction: float | None = None,
) -> Iterator[tuple[str, DataFrame]]:
    """Yields ("segments" | "rollup_1m" | "rollup_1h" | "rollup_1d",
    frame), each keyed by `part_day` with one task per day. Take each
    frame in turn: later tiers read the persisted segments and 1h
    frames, which are released when the generator closes. 1m is
    map-only at a 1-minute fit interval; 1h comes from the segments
    (small shuffle) and 1d from 1h, so point-sized data is never
    re-shuffled."""
    # one task per day: the segments and the map-only 1m tier then
    # write one file per day
    segments = with_part_key(
        fit_turns(turns, cfg, grouped, dynamic_split_fraction), cfg.conv_buckets
    ).hint("rebalance", "part_day").persist()
    members = explode_group_segments(segments) if grouped else segments

    def by_day(tier: DataFrame) -> DataFrame:
        return tier.withColumn("part_day", (F.col("window_ms") / DAY_MS).cast("long"))

    r1h = None
    try:
        yield "segments", segments
        yield "rollup_1m", by_day(
            rollup_from_segments(members, MINUTE_MS, cfg.interval_ms)
        )
        r1h = by_day(rollup_from_segments(members, HOUR_MS, cfg.interval_ms))
        r1h = r1h.hint("rebalance", "part_day").persist()
        yield "rollup_1h", r1h
        yield "rollup_1d", by_day(rollup_cascade(r1h, DAY_MS)).hint(
            "rebalance", "part_day"
        )
    finally:
        segments.unpersist()
        if r1h is not None:
            r1h.unpersist()


def ingest(
    spark: SparkSession,
    transcripts: DataFrame,
    out_root: str,
    cfg: EngineConfig = EngineConfig(),
    snapshot_id: str = "snap-0",
    chunk_days: int = 64,
    fail_after_chunks: int | None = None,
    grouped: bool = False,
    dynamic_split_fraction: float | None = None,
    fmt: str = "parquet",
    catalog_kind: str = "dir",
) -> dict:
    """Run the pipeline; returns metrics. `fail_after_chunks` injects a
    crash after N chunks (resume tests only). `grouped=True` compresses
    each conversation's metrics as ONE group (groupfit.py; ~1.9x fewer
    stored bytes, identical rollups at bound 0);
    `dynamic_split_fraction` additionally enables the reference's
    ratio-feedback dynamic split/join inside the group fit."""
    # The resume unit (UTC day) is only self-contained because segments
    # and rollup windows never span a day when the fit salt is one day;
    # a different salt_days would make per-day overwrite-on-resume drop
    # boundary contributions, so refuse to run rather than corrupt.
    if cfg.salt_days != 1:
        raise ValueError(
            "ingest(): resume unit is the UTC day and requires "
            f"cfg.salt_days == 1 (got {cfg.salt_days})"
        )
    # fmt: "parquet" or "orc" — the reference's two columnar segment
    # backends (storage/ParquetStorage.scala, storage/ORCStorage.scala).
    # catalog_kind: "dir" = partition-directory layout, "snapshot" =
    # ACID manifest commits (io/snapshots.py — the FileStorage WAL story)
    from modelardb_spark.io.snapshots import make_catalog

    catalog = make_catalog(out_root, fmt, catalog_kind)
    ckpt = CheckpointStore(out_root)

    # the columns derive+fit read; each chunk re-reads them for its days
    turns = transcripts.select("conv_id", "ts", "tool")
    ts_type = turns.schema["ts"].dataType

    # metadata tables (reference storage schema: time_series with
    # per-series scaling + model_type, JDBCStorage.scala:47-52). The
    # time_series write is the one pass over the input that also
    # observes the day inventory.
    from modelardb_spark.operators.transform import time_series_metadata

    inventory = Observation("inventory")
    series_keys = turns.observe(
        inventory, F.collect_set(_day_of_ts("ts")).alias("days")
    ).select(
        "conv_id",
        F.explode(F.array(*[F.lit(m) for m in METRICS])).alias("metric"),
    )
    # scaling={} -> factor 1.0 recorded for every series (the ingest
    # path applies no scaling; the table records what WAS applied)
    catalog.overwrite(time_series_metadata(series_keys, scaling={}), "time_series")
    # on an empty input AQE replaces the plan under the metadata
    # distinct with an empty relation, and the observed row has no fields
    days = [] if turns.isEmpty() else sorted(inventory.get["days"])

    done = ckpt.done_partitions("segments", snapshot_id)
    todo = [d for d in days if str(d) not in done]
    metrics = {"days_total": len(days), "days_skipped": len(days) - len(todo)}

    chunks = [todo[i : i + chunk_days] for i in range(0, len(todo), chunk_days)]
    rows_out_total = 0
    for ci, chunk in enumerate(chunks):
        if fail_after_chunks is not None and ci >= fail_after_chunks:
            raise RuntimeError("injected failure for resume test")
        t0 = time.time()
        # the ts range lets the scan skip files and row groups; the day
        # filter decides which rows belong to the chunk
        lo, hi = _ts_bounds(ts_type, chunk)
        part = turns.where(
            (F.col("ts") >= lo) & (F.col("ts") < hi)
            & _day_of_ts("ts").isin(chunk)
        )
        for name, frame in tiers(part, cfg, grouped, dynamic_split_fraction):
            if name == "segments":
                # "n" counts stored values on both the per-series and
                # the group segment schemas (group seg_cnt is a
                # per-member array); this collect also fills the cache
                # the writes read
                stats = {
                    r["part_day"]: r
                    for r in frame.groupBy("part_day")
                    .agg(F.count("*").alias("segs"), F.sum("n").alias("points"))
                    .collect()
                }
                # sort within files so parquet row-group min/max stats
                # prune by model type, conversation, and time (Iceberg
                # analogue: write-ordered-by); part_day leads because
                # the partitioned writer needs rows grouped by it and
                # re-sorts otherwise
                frame = frame.sortWithinPartitions(
                    "part_day", "mtid", "conv_id", "start_ms"
                )
            catalog.overwrite_partitions(frame, name, ["part_day"])

        wall_ms = int((time.time() - t0) * 1000)
        for d in chunk:
            r = stats.get(d)
            ckpt.record(
                "segments",
                partition_id=str(d),
                input_snapshot_id=snapshot_id,
                rows_in=int(r["points"]) if r else 0,
                rows_out=int(r["segs"]) if r else 0,
                wall_ms=wall_ms // max(1, len(chunk)),
            )
        rows_out_total += sum(int(r["segs"]) for r in stats.values())

    catalog.overwrite(model_type_table(spark), "model_type")

    catalog.write_manifest(
        "segments",
        {
            "snapshot_id": snapshot_id,
            "error_bound": cfg.error_bound,
            "length_bound": cfg.length_bound,
            "interval_ms": cfg.interval_ms,
        },
    )
    metrics["segments_written"] = rows_out_total
    metrics["chunks"] = len(chunks)
    return metrics


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--config", help="TOML config (modelardb_spark.config_file)"
                    " — [engine]+[ingest] drive the whole job; other flags"
                    " are ignored when set")
    ap.add_argument("--events", help="events parquet path")
    ap.add_argument("--out", help="output catalog root")
    ap.add_argument("--error-bound", type=float, default=0.0)
    ap.add_argument("--snapshot-id", default="snap-0")
    ap.add_argument("--grouped", action="store_true",
                    help="compress each conversation's metrics as one group")
    ap.add_argument("--dynamic-split-fraction", type=float, default=None,
                    help="with --grouped: ratio-feedback dynamic split/join "
                         "threshold (reference default 0.10)")
    ap.add_argument("--format", default="parquet", choices=["parquet", "orc"],
                    help="segment/rollup table format (ORCStorage parity)")
    ap.add_argument("--catalog", default="dir", choices=["dir", "snapshot", "jdbc", "cql"],
                    help="table layout: partition dirs or ACID snapshot "
                         "commits; jdbc/cql partition overwrites are "
                         "crash-healed by the checkpoint re-run — for "
                         "full commit atomicity use snapshot")
    args = ap.parse_args()

    from modelardb_spark.operators.transcripts import transcripts_from_events
    from modelardb_spark.session import get_spark

    spark = get_spark(app_name="modelardb-ingest")
    if args.config:
        from modelardb_spark.config_file import load_config, run_ingest

        print(run_ingest(spark, load_config(args.config)))
        spark.stop()
        return
    if not (args.events and args.out):
        ap.error("--events and --out are required without --config")
    sf_dir = args.events.rsplit("/", 1)[0]
    transcripts = transcripts_from_events(spark, sf_dir)
    cfg = EngineConfig(error_bound=args.error_bound)
    print(ingest(spark, transcripts, args.out, cfg,
                 snapshot_id=args.snapshot_id, grouped=args.grouped,
                 dynamic_split_fraction=args.dynamic_split_fraction,
                 fmt=args.format, catalog_kind=args.catalog))
    spark.stop()


if __name__ == "__main__":
    main()
