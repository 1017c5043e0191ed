"""Catalog maintenance job: retention, compaction, snapshot expiry.

The operational complement of ingest/transfer — the tasks a production
deployment schedules nightly (Iceberg's `expire_snapshots` /
`rewrite_data_files` procedures; the reference's merge-every-N-batches
concern, storage/FileStorage.scala:320-351):

- `--retention`: apply the tiered age policy (hot segments / warm
  1m+1h / everlasting 1d — operators/retention.py) as partition-level
  deletes. Works on every catalog kind: directory drops, snapshot
  metadata-only delete commits, or SQL DELETEs on JDBC.
- `--compact`: rewrite each table to one file per partition (snapshot
  catalog: an atomic rewrite commit; directory catalog: dynamic
  partition overwrite of the coalesced frame).
- `--expire-keep N`: snapshot catalog only — drop all but the newest N
  manifests and garbage-collect unreferenced data files.

Run via spark-submit like the other jobs:

    spark-submit --py-files modelardb_spark.zip \
        -m modelardb_spark.jobs.maintain --root /data/mdb \
        --catalog snapshot --retention --now-ms 1706745600000 \
        --compact --expire-keep 2
"""

from __future__ import annotations

import argparse
import time

from pyspark.sql import SparkSession

ROLLUP_TABLES = ["segments", "rollup_1m", "rollup_1h", "rollup_1d"]


def compact_tables(
    spark: SparkSession, catalog, tables: list[str] | None = None
) -> dict[str, int]:
    """One file per partition for each existing table. On the snapshot
    catalog this is `rewrite_data_files` (atomic commit + old files
    reclaimable via expiry); on the directory/JDBC catalogs it is a
    partition-preserving rewrite through the catalog's own overwrite."""
    from modelardb_spark.io.snapshots import SnapshotCatalog

    out = {}
    for table in tables or ROLLUP_TABLES:
        if not catalog.exists(table):
            continue
        if isinstance(catalog, SnapshotCatalog):
            out[table] = catalog.rewrite_data_files(spark, table, ["part_day"])
        else:
            # the file catalogs stage every file before the commit
            # swaps it in, and JDBC stages in a table, so the rewrite
            # reads the rows it replaces without a checkpoint
            df = catalog.read(spark, table).repartition("part_day")
            catalog.overwrite_partitions(df, table, ["part_day"])
            out[table] = 1
    return out


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--root", required=True, help="catalog root")
    ap.add_argument("--catalog", default="dir",
                    choices=["dir", "snapshot", "jdbc", "cql"])
    ap.add_argument("--format", default="parquet", choices=["parquet", "orc"])
    ap.add_argument("--retention", action="store_true",
                    help="apply the tiered age policy")
    ap.add_argument("--hot-days", type=int, default=7)
    ap.add_argument("--warm-days", type=int, default=30)
    ap.add_argument("--cold-days", type=int, default=None)
    ap.add_argument("--now-ms", type=int, default=None,
                    help="policy 'now' (default: wall clock)")
    ap.add_argument("--compact", action="store_true",
                    help="rewrite tables to one file per partition")
    ap.add_argument("--expire-keep", type=int, default=None,
                    help="snapshot catalog: keep newest N snapshots, GC the rest")
    ap.add_argument("--expire-grace-min", type=float, default=10.0,
                    help="GC grace period in minutes: unreferenced files "
                    "younger than this are presumed in-flight commits and "
                    "kept, so expiry is safe to run concurrently with "
                    "writers (0 = immediate GC, writers must be quiesced)")
    args = ap.parse_args()

    from modelardb_spark.io.snapshots import SnapshotCatalog, make_catalog
    from modelardb_spark.session import get_spark

    spark = get_spark(app_name="modelardb-maintain")
    catalog = make_catalog(args.root, args.format, args.catalog)
    report: dict = {}
    if args.retention:
        from modelardb_spark.operators.retention import (
            RetentionPolicy,
            apply_retention,
        )

        policy = RetentionPolicy(args.hot_days, args.warm_days, args.cold_days)
        now = args.now_ms if args.now_ms is not None else int(time.time() * 1000)
        report["retention_dropped"] = apply_retention(catalog, policy, now)
    if args.compact:
        report["compacted"] = compact_tables(spark, catalog)
    if args.expire_keep is not None:
        if not isinstance(catalog, SnapshotCatalog):
            raise SystemExit("--expire-keep requires --catalog snapshot")
        report["expired"] = {
            t: catalog.expire_snapshots(
                t, args.expire_keep, older_than_s=args.expire_grace_min * 60
            )
            for t in ROLLUP_TABLES
            if catalog.exists(t)
        }
    print(report)
    spark.stop()


if __name__ == "__main__":
    main()
