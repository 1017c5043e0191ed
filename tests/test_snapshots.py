"""ACID snapshot catalog (io/snapshots.py): atomic manifest commits,
snapshot-isolated reads, optimistic two-writer concurrency, metadata-
only deletes, snapshot expiry GC, compaction — the FileStorage.scala
WAL/recovery concerns answered Iceberg-style — plus the resumable
ingest and transfer jobs running end-to-end on this catalog."""

from __future__ import annotations

import threading

import pytest
from pyspark.sql import functions as F

from modelardb_spark.io.snapshots import SnapshotCatalog, make_catalog


def _df(spark, rows):
    return spark.createDataFrame(rows, "k string, part int, v long")


def _rows(df):
    return sorted((r["k"], r["part"], r["v"]) for r in df.collect())


def test_round_trip_and_partition_overwrite(spark, tmp_path):
    cat = SnapshotCatalog(str(tmp_path))
    cat.overwrite(_df(spark, [("a", 1, 10), ("b", 2, 20)]), "t", ["part"])
    assert cat.exists("t") and cat.current_version("t") == 1
    assert _rows(cat.read(spark, "t")) == [("a", 1, 10), ("b", 2, 20)]
    # dynamic overwrite: only partition 2 is replaced
    cat.overwrite_partitions(_df(spark, [("c", 2, 99)]), "t", ["part"])
    assert _rows(cat.read(spark, "t")) == [("a", 1, 10), ("c", 2, 99)]
    # append lands next to existing partitions
    cat.append(_df(spark, [("d", 3, 30)]), "t", ["part"])
    assert _rows(cat.read(spark, "t")) == [("a", 1, 10), ("c", 2, 99), ("d", 3, 30)]
    assert cat.list_partitions("t", "part") == ["1", "2", "3"]


def test_snapshot_isolation_and_time_travel(spark, tmp_path):
    cat = SnapshotCatalog(str(tmp_path))
    cat.overwrite(_df(spark, [("a", 1, 10)]), "t", ["part"])
    v1 = cat.current_version("t")
    pinned = cat.read(spark, "t", version=v1)  # plan pinned to v1's files
    cat.overwrite_partitions(_df(spark, [("b", 1, 11)]), "t", ["part"])
    # the pinned frame still reads v1's files: old data is immutable
    assert _rows(pinned) == [("a", 1, 10)]
    assert _rows(cat.read(spark, "t")) == [("b", 1, 11)]
    assert _rows(cat.read(spark, "t", version=v1)) == [("a", 1, 10)]


def test_manifest_level_partition_pruning(spark, tmp_path):
    cat = SnapshotCatalog(str(tmp_path))
    cat.overwrite(
        _df(spark, [("a", 1, 1), ("b", 2, 2), ("c", 3, 3)]), "t", ["part"]
    )
    pruned = cat.read(spark, "t", partition_filter={"part": [2]})
    assert _rows(pruned) == [("b", 2, 2)]
    # the pruned plan references exactly one data file
    assert len(pruned.inputFiles()) == 1


def test_two_writer_append_race_loses_nothing(spark, tmp_path):
    """Concurrent appends from independent writers must BOTH land (the
    loser rebases and retries) — the lost-update failure mode of the
    plain directory catalog."""
    cat = SnapshotCatalog(str(tmp_path))
    cat.overwrite(_df(spark, [("seed", 0, 0)]), "t", ["part"])
    errs = []

    def worker(i):
        try:
            w = SnapshotCatalog(str(tmp_path))  # independent writer
            w.append(_df(spark, [(f"w{i}", i, i)]), "t", ["part"])
        except Exception as e:  # pragma: no cover
            errs.append(e)

    threads = [threading.Thread(target=worker, args=(i,)) for i in range(1, 5)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs
    assert _rows(cat.read(spark, "t")) == [
        ("seed", 0, 0), ("w1", 1, 1), ("w2", 2, 2), ("w3", 3, 3), ("w4", 4, 4)
    ]
    assert cat.current_version("t") == 5  # five distinct commits


def test_two_writer_disjoint_partition_overwrites_merge(spark, tmp_path):
    cat = SnapshotCatalog(str(tmp_path))
    cat.overwrite(
        _df(spark, [("a", 1, 1), ("b", 2, 2), ("c", 3, 3)]), "t", ["part"]
    )

    def worker(part, val):
        SnapshotCatalog(str(tmp_path)).overwrite_partitions(
            _df(spark, [(f"new{part}", part, val)]), "t", ["part"]
        )

    t1 = threading.Thread(target=worker, args=(1, 100))
    t2 = threading.Thread(target=worker, args=(3, 300))
    t1.start(); t2.start(); t1.join(); t2.join()
    assert _rows(cat.read(spark, "t")) == [
        ("b", 2, 2), ("new1", 1, 100), ("new3", 3, 300)
    ]


def test_drop_partitions_is_metadata_only_and_expire_gcs(spark, tmp_path):
    import os

    cat = SnapshotCatalog(str(tmp_path))
    cat.overwrite(_df(spark, [("a", 1, 1), ("b", 2, 2)]), "t", ["part"])
    files_before = set(cat.read(spark, "t").inputFiles())
    assert cat.drop_partitions("t", "part", [2]) == 1
    # data files still on disk (old snapshot remains readable)...
    assert all(os.path.exists(f.replace("file:", "")) for f in files_before)
    assert _rows(cat.read(spark, "t")) == [("a", 1, 1)]
    assert _rows(cat.read(spark, "t", version=1)) == [("a", 1, 1), ("b", 2, 2)]
    # ...until expiry reclaims what no retained snapshot references
    gone = cat.expire_snapshots("t", keep_last=1, older_than_s=0)
    assert gone["manifests"] == 1 and gone["data_files"] >= 1
    assert _rows(cat.read(spark, "t")) == [("a", 1, 1)]
    # live files keep their checksum sidecars, so reads stay verified
    for f in cat.read(spark, "t").inputFiles():
        head, tail = os.path.split(f.replace("file:", ""))
        assert os.path.exists(os.path.join(head, f".{tail}.crc")), f
    with pytest.raises(Exception):
        cat.read(spark, "t", version=1).collect()


def test_rewrite_data_files_compacts(spark, tmp_path):
    cat = SnapshotCatalog(str(tmp_path))
    for i in range(4):  # four commits -> many small files per partition
        cat.append(_df(spark, [(f"r{i}", i % 2, i)]), "t", ["part"])
    before = len(cat.read(spark, "t").inputFiles())
    rows = _rows(cat.read(spark, "t"))
    cat.rewrite_data_files(spark, "t", ["part"])
    cat.expire_snapshots("t", keep_last=1, older_than_s=0)
    after = len(cat.read(spark, "t").inputFiles())
    assert _rows(cat.read(spark, "t")) == rows
    assert after <= 2 < before  # one file per partition


def test_empty_partition_overwrite_keeps_schema(spark, tmp_path):
    cat = SnapshotCatalog(str(tmp_path))
    cat.overwrite(_df(spark, [("a", 1, 1)]), "t", ["part"])
    cat.drop_partitions("t", "part", [1])
    empty = cat.read(spark, "t")
    assert empty.count() == 0
    assert empty.columns == ["k", "part", "v"]


def test_ingest_resume_on_snapshot_catalog(spark, sf_small, tmp_path):
    """The resumable ingest job runs unchanged on the ACID catalog: a
    crashed run resumes to byte-identical tables vs an uninterrupted
    run, now with atomic per-chunk commits."""
    from modelardb_spark.config import EngineConfig
    from modelardb_spark.jobs.ingest import ingest
    from modelardb_spark.operators.transcripts import transcripts_from_events

    t = transcripts_from_events(spark, sf_small)
    cfg = EngineConfig()
    ref_root = str(tmp_path / "ref")
    ingest(spark, t, ref_root, cfg, chunk_days=64)

    snap_root = str(tmp_path / "snap")
    with pytest.raises(RuntimeError, match="injected failure"):
        ingest(
            spark, t, snap_root, cfg, chunk_days=8,
            fail_after_chunks=1, catalog_kind="snapshot",
        )
    m = ingest(spark, t, snap_root, cfg, chunk_days=8, catalog_kind="snapshot")
    assert m["days_skipped"] >= 8
    ref = make_catalog(ref_root, "parquet", "dir")
    snap = make_catalog(snap_root, "parquet", "snapshot")
    for table in ["segments", "rollup_1m", "rollup_1h", "rollup_1d"]:
        a = ref.read(spark, table)
        b = snap.read(spark, table).select(*a.columns)
        assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect())), table


def test_transfer_to_snapshot_destination(spark, sf_small, tmp_path):
    """Edge (dir catalog) -> cloud (ACID snapshot catalog) shipment,
    including the crash/resume path."""
    from modelardb_spark.config import EngineConfig
    from modelardb_spark.jobs.ingest import ingest
    from modelardb_spark.jobs.transfer import transfer_segments
    from modelardb_spark.operators.transcripts import transcripts_from_events

    edge = str(tmp_path / "edge")
    ingest(spark, transcripts_from_events(spark, sf_small), edge, EngineConfig())
    cloud = str(tmp_path / "cloud")
    with pytest.raises(RuntimeError, match="injected failure"):
        transfer_segments(
            spark, edge, cloud, chunk_days=8,
            fail_after_chunks=1, dst_kind="snapshot",
        )
    transfer_segments(spark, edge, cloud, chunk_days=8, dst_kind="snapshot")
    src = make_catalog(edge, "parquet", "dir").read(spark, "segments")
    dst = make_catalog(cloud, "parquet", "snapshot").read(spark, "segments")
    assert sorted(map(tuple, dst.select(*src.columns).collect())) == sorted(
        map(tuple, src.collect())
    )


def test_partition_evolution(spark, tmp_path):
    """Iceberg-style partition evolution: later commits may use a
    DIFFERENT partition spec; old files stay readable (each commit's
    layout is self-describing via its basePath) and manifest-level
    pruning works per layout — files from a commit that does not carry
    the filtered column are simply not matched by it."""
    cat = SnapshotCatalog(str(tmp_path))
    # v1: partitioned by part only
    cat.overwrite(_df(spark, [("a", 1, 10), ("b", 2, 20)]), "t", ["part"])
    # v2 append: evolved spec (part, v) — finer layout for new data
    cat.append(_df(spark, [("c", 3, 30)]), "t", ["part", "v"])
    assert _rows(cat.read(spark, "t")) == [("a", 1, 10), ("b", 2, 20), ("c", 3, 30)]
    # pruning on the common column spans both layouts
    assert _rows(cat.read(spark, "t", partition_filter={"part": [3]})) == [
        ("c", 3, 30)
    ]
    # pruning on the evolved column matches only evolved-layout files
    assert _rows(cat.read(spark, "t", partition_filter={"v": [30]})) == [
        ("c", 3, 30)
    ]
    # partition listing reflects the union of specs
    assert cat.list_partitions("t", "part") == ["1", "2", "3"]
    assert cat.list_partitions("t", "v") == ["30"]


def test_maintenance_job_on_snapshot_catalog(spark, sf_small, tmp_path):
    """Retention + compaction + snapshot expiry as one maintenance pass
    over an ACID-catalog ingest output: the tiered policy drops cold
    partitions (metadata-only commits), compaction rewrites to one file
    per partition, expiry reclaims every unreferenced data file, and
    the surviving tables still answer rollup queries exactly."""
    from modelardb_spark.config import EngineConfig
    from modelardb_spark.jobs.ingest import ingest
    from modelardb_spark.jobs.maintain import compact_tables
    from modelardb_spark.operators.retention import (
        RetentionPolicy,
        apply_retention,
    )
    from modelardb_spark.operators.transcripts import transcripts_from_events

    root = str(tmp_path / "mnt")
    ingest(
        spark, transcripts_from_events(spark, sf_small), root,
        EngineConfig(), catalog_kind="snapshot",
    )
    cat = SnapshotCatalog(root)
    days = sorted(int(d) for d in cat.list_partitions("segments", "part_day"))
    # policy 'now': keep the newest 7 days of segments, everything 1d
    now_ms = (days[-1] + 1) * 86_400_000
    before_1h = sorted(
        map(tuple, cat.read(spark, "rollup_1h").drop("part_day").collect())
    )
    dropped = apply_retention(cat, RetentionPolicy(7, 30, None), now_ms)
    assert dropped["segments"] == len([d for d in days if d < days[-1] + 1 - 7])
    kept = sorted(int(d) for d in cat.list_partitions("segments", "part_day"))
    assert kept == [d for d in days if d >= days[-1] + 1 - 7]
    # warm tier (30d) untouched at this now
    assert sorted(
        map(tuple, cat.read(spark, "rollup_1h").drop("part_day").collect())
    ) == before_1h

    compact_tables(spark, cat)
    expired = {
        t: cat.expire_snapshots(t, keep_last=1, older_than_s=0)
        for t in ["segments", "rollup_1m", "rollup_1h", "rollup_1d"]
    }
    assert sum(e["data_files"] for e in expired.values()) > 0
    # one file per surviving partition, content preserved
    seg = cat.read(spark, "segments")
    assert len(seg.inputFiles()) == len(kept)
    assert sorted(
        map(tuple, cat.read(spark, "rollup_1h").drop("part_day").collect())
    ) == before_1h


def test_expiry_grace_period_spares_in_flight_commit(spark, tmp_path):
    """expire_snapshots running CONCURRENTLY with a writer must not
    sweep the writer's staged-but-unlinked files: the grace period
    (mtime < older_than_s) spares them, and the commit completes and
    reads back intact afterwards. Old unreferenced files (aged past
    the grace) are still reclaimed in the same pass."""
    import os

    cat = SnapshotCatalog(str(tmp_path))
    cat.overwrite(_df(spark, [("a", 1, 10)]), "t", ["part"])
    cat.overwrite_partitions(_df(spark, [("a2", 1, 11)]), "t", ["part"])
    # v1's files are now unreferenced by the head; age them artificially
    old = set(cat.read(spark, "t", version=1).inputFiles())
    for f in old:
        p = f.replace("file:", "")
        os.utime(p, (1, 1))

    # an in-flight commit: data + manifest files staged, list NOT linked
    writer = SnapshotCatalog(str(tmp_path))
    staged_rows = writer._write_files(
        _df(spark, [("w", 2, 20)]), "t", ["part"]
    )[0]["t"]
    gone = cat.expire_snapshots("t", keep_last=1, older_than_s=300)
    # aged v1 files reclaimed, fresh staged files spared
    assert gone["data_files"] >= 1
    staged_data = [
        os.path.join(cat._data("t"), e["path"])
        for m in staged_rows
        for e in writer._load_manifest_file("t", m["path"])
    ]
    assert staged_data and all(os.path.exists(p) for p in staged_data)
    # the in-flight commit now completes (append semantics) and reads
    writer._commit(
        "t", "append", lambda base: base + staged_rows,
        schema_json=_df(spark, [("w", 2, 20)]).schema.json(),
        check_schema=True,
    )
    assert _rows(cat.read(spark, "t")) == [("a2", 1, 11), ("w", 2, 20)]


def test_commit_cost_bounded_by_touched_partitions(spark, tmp_path):
    """Sharded manifests: metadata ops on a table with MANY partitions
    never open untouched manifest files — drop/dynamic-overwrite edit
    the manifest list only, and a partition-pruned read parses exactly
    the matching manifests. (This is what keeps commit cost O(touched)
    instead of O(all files) at 100 TB.)"""
    import json as _json
    import os

    cat = SnapshotCatalog(str(tmp_path))
    cat.overwrite(_df(spark, [("a", 1, 1), ("b", 2, 2), ("c", 3, 3)]), "t", ["part"])
    # fabricate a large manifest list (simulating 1000 partitions) by
    # cloning list rows to fake manifest paths — their files do NOT
    # exist, so any attempt to open an untouched manifest would raise
    man = cat.manifest("t")
    fake = [
        dict(man["manifests"][0], path=f"manifests/m-fake{i}.json",
             partition={"part": str(100 + i)})
        for i in range(1000)
    ]
    man["manifests"] = man["manifests"] + fake
    man["version"] += 1
    man["parent"] = man["version"] - 1
    with open(cat._vfile("t", man["version"]), "w") as f:
        _json.dump(man, f)

    opened = []
    real_load = SnapshotCatalog._load_manifest_file

    def counting_load(self, name, relpath):
        opened.append(relpath)
        return real_load(self, name, relpath)

    import pytest as _pytest

    mp = _pytest.MonkeyPatch()
    mp.setattr(SnapshotCatalog, "_load_manifest_file", counting_load)
    try:
        # metadata-only ops: zero manifest files opened
        assert cat.drop_partitions("t", "part", [2]) == 1
        cat.overwrite_partitions(_df(spark, [("z", 3, 33)]), "t", ["part"])
        assert len(cat.list_partitions("t", "part")) == 1002
        assert opened == []
        # pruned read opens exactly the one matching manifest
        assert _rows(cat.read(spark, "t", partition_filter={"part": [1]})) == [
            ("a", 1, 1)
        ]
        assert len(opened) == 1
    finally:
        mp.undo()


def test_schema_evolution_additive_only(spark, tmp_path):
    """Additive evolution appends a NEW column (old files read NULL);
    changing or dropping an existing column is rejected AT COMMIT with
    a clear error instead of breaking every later read."""
    from modelardb_spark.io.snapshots import SchemaMismatch

    cat = SnapshotCatalog(str(tmp_path))
    cat.overwrite(_df(spark, [("a", 1, 10)]), "t", ["part"])
    # additive: extra column lands; old rows read it as NULL
    plus = spark.createDataFrame(
        [("b", 2, 20, "x")], "k string, part int, v long, tag string"
    )
    cat.append(plus, "t", ["part"])
    got = {
        (r["k"], r["tag"]) for r in cat.read(spark, "t").collect()
    }
    assert got == {("a", None), ("b", "x")}
    # type change: rejected at commit
    bad_type = spark.createDataFrame([("c", 3, 3.5)], "k string, part int, v double")
    with pytest.raises(SchemaMismatch, match="v: bigint -> double"):
        cat.append(bad_type, "t", ["part"])
    # dropped column: rejected at commit
    bad_drop = spark.createDataFrame([("d", 4)], "k string, part int")
    with pytest.raises(SchemaMismatch, match="v: bigint -> DROPPED"):
        cat.overwrite_partitions(bad_drop, "t", ["part"])
    # the table is still exactly as it was before the bad commits
    assert len(_rows(cat.read(spark, "t"))) == 2


def test_current_version_survives_stale_hint_after_expiry(spark, tmp_path):
    """A crashed writer can leave the version hint stale; after expiry
    removes old manifests, upward probing from 0 would misread the
    table as empty — discovery must fall back to listing the retained
    manifests."""
    import os

    cat = SnapshotCatalog(str(tmp_path))
    for i in range(4):
        cat.append(_df(spark, [(f"r{i}", i, i)]), "t", ["part"])
    cat.expire_snapshots("t", keep_last=2, older_than_s=0)  # v1, v2 gone
    # simulate the stale hint: point it at an expired version
    with open(os.path.join(cat._meta("t"), "_current"), "w") as f:
        f.write("1")
    assert cat.current_version("t") == 4
    assert len(_rows(cat.read(spark, "t"))) == 4


def test_expire_removes_emptied_dirs_same_sweep_with_grace(spark, tmp_path):
    """A dir emptied BY the sweep must be removed in that same sweep
    even under a nonzero grace period: unlinking the files bumps the
    dir mtime, so the age check has to use the pre-sweep mtime (a dir
    that merely LOOKS young because the sweep touched it is not an
    in-flight writer's)."""
    import os
    import time as _time

    cat = SnapshotCatalog(str(tmp_path))
    cat.overwrite(_df(spark, [("a", 1, 1), ("b", 2, 2)]), "t", ["part"])
    cat.overwrite(_df(spark, [("a", 1, 9)]), "t", ["part"])  # part=2 orphaned
    # age everything beyond the grace period
    old = _time.time() - 3600
    for root in (str(tmp_path),):
        for dirpath, dirs, files in os.walk(root):
            for p in [dirpath] + [os.path.join(dirpath, f) for f in files]:
                os.utime(p, (old, old))
    gone = cat.expire_snapshots("t", keep_last=1, older_than_s=600)
    assert gone["data_files"] >= 1
    # the emptied part=2 commit dirs vanished in THIS sweep
    leftovers = [
        os.path.join(d, x)
        for d, xs, fs in os.walk(str(tmp_path))
        for x in xs
        if not os.listdir(os.path.join(d, x))
    ]
    assert leftovers == [], leftovers
    assert _rows(cat.read(spark, "t")) == [("a", 1, 9)]


def test_expire_survives_earlier_tighter_expiry(tmp_path, spark):
    """A second expiry whose keep-window overlaps versions an EARLIER
    expiry already deleted must skip the missing v-files instead of
    crashing the maintenance job with FileNotFoundError (ADVICE r6)."""
    cat = SnapshotCatalog(str(tmp_path))
    for _ in range(4):
        cat.overwrite(_df(spark, [("a", 1, 10), ("b", 2, 20)]), "t", ["part"])
    cat.expire_snapshots("t", keep_last=1, older_than_s=0)  # v1..v3 gone
    cat.overwrite(_df(spark, [("c", 3, 30)]), "t", ["part"])
    # keep_last=3's window includes versions the first expiry already
    # deleted: must skip them, not raise FileNotFoundError
    res = cat.expire_snapshots("t", keep_last=3, older_than_s=0)
    assert isinstance(res, dict)
    assert _rows(cat.read(spark, "t")) == [("c", 3, 30)]
