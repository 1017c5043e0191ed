"""Edge->cloud segment transfer: the reference's RemoteStorage
semantics (remote/RemoteStorage.scala:148-281) as a resumable Spark
batch job.

The reference ships finalized segment groups from an edge instance to
a cloud store over Arrow Flight, asserting that model types match
(RemoteStorage.scala:223-250) and letting the master spread edge
clients across receivers by expected load
(RemoteStorageFlightProducer.scala:96-118). At Spark scale the same
capability is a table-to-table job:

- the unit of transfer is the segment table's day partition (the same
  unit the ingest job checkpoints), so shipment is RESUMABLE: a killed
  transfer re-ships only days without a `done` checkpoint row at the
  destination, and per-partition dynamic overwrite makes re-runs
  byte-identical to an uninterrupted run;
- shipment is IDEMPOTENT and multi-edge safe: incoming rows are
  deduplicated against the destination partition on
  (conv_id, metric, start_ms) — re-sending a partition, or two edges
  covering overlapping series, never duplicates a segment;
- model types are asserted compatible before any data moves, with the
  reference's exact rule: the edge may not use more model types than
  the cloud, and every shared mtid must name the same implementation;
- the per-series metadata tables (time_series, model_type) ride along,
  merged by key — the reference ships time_series the same way
  (RemoteStorage.scala:86-148).

The wire itself: in production the two roots are different Iceberg
catalogs / object stores and Spark moves the bytes; the Arrow Flight
framing the reference uses for edge nodes too small to run Spark is in
`modelardb_spark.remote.flight` (same segment schema on the wire).
"""

from __future__ import annotations

import argparse
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from modelardb_spark.io.checkpoints import CheckpointStore
from modelardb_spark.io.tables import TableCatalog

#: dedup identity of a finalized segment (RemoteStorageFlightProducer
#: stores segment groups keyed by (gid, start) — our self-describing
#: rows key by series + start)
SEGMENT_KEYS = ["conv_id", "metric", "start_ms"]


def assert_model_types(
    spark: SparkSession, src: TableCatalog, dst: TableCatalog
) -> None:
    """The reference's pre-transfer contract check
    (RemoteStorage.scala:223-250): the edge must not use more model
    types than the cloud, and every mtid the edge uses must map to the
    same implementation name on the cloud — otherwise transferred
    segments would decode under the wrong model."""
    if not (src.exists("model_type") and dst.exists("model_type")):
        return  # nothing to check against (metadata not materialized)
    local = {
        r["mtid"]: r["name"] for r in src.read(spark, "model_type").collect()
    }
    remote = {
        r["mtid"]: r["name"] for r in dst.read(spark, "model_type").collect()
    }
    if len(local) > len(remote):
        raise ValueError(
            f"transfer: edge uses {len(local)} model types, cloud only "
            f"{len(remote)} (RemoteStorage.scala:230-233)"
        )
    for mtid, name in sorted(local.items()):
        if remote.get(mtid) != name:
            raise ValueError(
                f"transfer: edge mtid {mtid} is {name!r} but cloud has "
                f"{remote.get(mtid)!r} — mtids must agree "
                "(RemoteStorage.scala:236-247)"
            )


def _merge_metadata(
    spark: SparkSession,
    src: TableCatalog,
    dst: TableCatalog,
    name: str,
    keys: list[str],
) -> None:
    """Union a small metadata table into the destination, keyed:
    existing cloud rows win on key collision (the cloud is the system
    of record once a series is registered)."""
    if not src.exists(name):
        return
    incoming = src.read(spark, name)
    if dst.exists(name):
        existing = dst.read(spark, name)
        merged = existing.unionByName(
            incoming.join(existing.select(*keys), keys, "left_anti")
        )
    else:
        merged = incoming
    # tiny tables: collect-then-write avoids reading and overwriting
    # the same files in one plan (self-overwrite corruption)
    rows = merged.collect()
    dst.overwrite(spark.createDataFrame(rows, merged.schema), name)


def transfer_segments(
    spark: SparkSession,
    src_root: str,
    dst_root: str,
    table: str = "segments",
    chunk_days: int = 64,
    fail_after_chunks: int | None = None,
    dedup_keys: list[str] | None = None,
    src_fmt: str = "parquet",
    dst_fmt: str = "parquet",
    src_kind: str = "dir",
    dst_kind: str = "dir",
) -> dict:
    """Ship finalized segments from the edge catalog at `src_root` to
    the cloud catalog at `dst_root`; returns metrics. Resumable
    (per-day checkpoints at the destination), idempotent (per-key
    dedup against destination partitions), crash-safe
    (`fail_after_chunks` injects a crash for the resume tests).

    Checkpoint metrics note: `rows_in` and `rows_out` are each day's own
    counts; `wall_ms` is the chunk's wall time averaged across its days
    (exact in aggregate, not per day)."""
    dedup_keys = dedup_keys or SEGMENT_KEYS
    from modelardb_spark.io.snapshots import make_catalog

    src = make_catalog(src_root, src_fmt, src_kind)
    dst = make_catalog(dst_root, dst_fmt, dst_kind)
    ckpt = CheckpointStore(dst_root)
    ckpt_table = f"transfer:{table}"

    assert_model_types(spark, src, dst)

    manifest = src.read_manifest(table) or {}
    snapshot_id = str(manifest.get("snapshot_id", "src-unversioned"))

    days = [int(v) for v in src.list_partitions(table, "part_day")]
    done = ckpt.done_partitions(ckpt_table, snapshot_id)
    todo = sorted(d for d in days if str(d) not in done)
    metrics = {"days_total": len(days), "days_skipped": len(days) - len(todo)}

    src_df = src.read(spark, table) if days else None
    chunks = [todo[i : i + chunk_days] for i in range(0, len(todo), chunk_days)]
    shipped_total = 0
    for ci, chunk in enumerate(chunks):
        if fail_after_chunks is not None and ci >= fail_after_chunks:
            raise RuntimeError("injected failure for transfer resume test")
        t0 = time.time()
        chunk_days_list = [int(d) for d in chunk]
        # released in `finally`: a failed chunk must not leave its blocks
        # cached, or a retry with the same plan is served the stale ones
        incoming = merged = None
        try:
            # partition-column filter -> directory pruning at the source:
            # only this chunk's day directories are listed and read
            incoming = src_df.where(F.col("part_day").isin(chunk_days_list))
            incoming = incoming.persist()
            rows_in = {
                str(r["part_day"]): int(r["count"])
                for r in incoming.groupBy("part_day").count().collect()
            }

            # intra-source dedup runs UNCONDITIONALLY: a source partition
            # carrying duplicate keys must land exactly once at the cloud
            # whether or not the destination table already exists
            deduped = incoming.dropDuplicates(dedup_keys)
            if dst.exists(table):
                existing = dst.read(spark, table).where(
                    F.col("part_day").isin(chunk_days_list)
                )
                # idempotent dedup: rows the cloud already holds for these
                # keys are kept; only genuinely new segments append. The
                # join is per-partition (both sides pruned to the chunk's
                # days) so its size is bounded by the chunk, not the table.
                fresh = deduped.join(
                    existing.select(*dedup_keys), dedup_keys, "left_anti"
                )
                merged = existing.unionByName(fresh)
            else:
                merged = deduped
            merged = merged.persist()
            per_day = {
                str(r["part_day"]): r
                for r in merged.groupBy("part_day")
                .agg(F.count("*").alias("rows"))
                .collect()
            }
            rows_out = sum(int(r["rows"]) for r in per_day.values())
            # dynamic overwrite replaces exactly this chunk's partitions.
            # The writer stages every file before its commit swaps the
            # destination's days, so `merged` may read the days it replaces;
            # its counts are taken above, because after the commit a
            # recomputed block would list files the swap moved away
            dst.overwrite_partitions(
                merged.sortWithinPartitions("mtid", "conv_id", "start_ms"),
                table,
                ["part_day"],
            )
            wall_ms = int((time.time() - t0) * 1000)
            for d in chunk:
                r = per_day.get(str(d))
                ckpt.record(
                    ckpt_table,
                    partition_id=str(d),
                    input_snapshot_id=snapshot_id,
                    rows_in=rows_in.get(str(d), 0),
                    rows_out=int(r["rows"]) if r else 0,
                    wall_ms=wall_ms // max(1, len(chunk)),
                )
            shipped_total += rows_out
        finally:
            for frame in (incoming, merged):
                if frame is not None:
                    frame.unpersist()

    _merge_metadata(spark, src, dst, "time_series", ["conv_id", "metric"])
    _merge_metadata(spark, src, dst, "model_type", ["mtid"])
    if manifest:
        dst.write_manifest(table, dict(manifest, transferred_from=src_root))
    metrics["rows_at_destination"] = shipped_total
    metrics["chunks"] = len(chunks)
    return metrics


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--src", required=True, help="edge catalog root")
    ap.add_argument("--dst", required=True, help="cloud catalog root")
    ap.add_argument("--table", default="segments")
    ap.add_argument("--chunk-days", type=int, default=64)
    ap.add_argument("--src-format", default="parquet", choices=["parquet", "orc"])
    ap.add_argument("--dst-format", default="parquet", choices=["parquet", "orc"])
    ap.add_argument("--src-catalog", default="dir",
                    choices=["dir", "snapshot", "jdbc", "cql"])
    ap.add_argument("--dst-catalog", default="dir",
                    choices=["dir", "snapshot", "jdbc", "cql"],
                    help="jdbc/cql partition overwrites are crash-healed "
                         "by the checkpoint re-run; use snapshot for full "
                         "commit atomicity")
    args = ap.parse_args()

    from modelardb_spark.session import get_spark

    spark = get_spark(app_name="modelardb-transfer")
    print(
        transfer_segments(
            spark, args.src, args.dst, table=args.table,
            chunk_days=args.chunk_days,
            src_fmt=args.src_format, dst_fmt=args.dst_format,
            src_kind=args.src_catalog, dst_kind=args.dst_catalog,
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
