"""Resume/retention tests — SURVEY.md §5 item 7: kill after partial
completion; re-run must produce identical tables and skip done
partitions."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from modelardb_spark.config import EngineConfig
from modelardb_spark.io.checkpoints import CheckpointStore
from modelardb_spark.io.tables import DAY_MS, TableCatalog
from modelardb_spark.jobs.ingest import ingest
from modelardb_spark.operators.retention import (
    RetentionPolicy,
    apply_retention,
    tiered_rollup,
)
from modelardb_spark.operators.transcripts import synthetic_transcripts


@pytest.fixture(scope="module")
def transcripts(spark):
    t = synthetic_transcripts(
        spark, n_convs=8, turns_per_conv=300, mega_convs=1, mega_factor=4
    ).cache()
    t.count()
    return t


def _table_fingerprint(spark, root, name, fmt="parquet"):
    df = spark.read.format(fmt).load(os.path.join(root, name))
    cols = sorted(c for c in df.columns if c != "part_bucket")
    return (
        df.select(*cols)
        .withColumn("h", F.hash(*cols))
        .agg(F.sum("h"), F.count("*"))
        .first()
    )


@pytest.mark.parametrize("fmt", ["parquet", "orc"])
def test_resume_after_injected_failure(spark, transcripts, tmp_path, fmt):
    """Parameterized over the reference's two columnar backends
    (ParquetStorage / ORCStorage): the resume contract is
    format-independent."""
    clean_root = str(tmp_path / "clean")
    crash_root = str(tmp_path / "crash")
    cfg = EngineConfig()

    m = ingest(spark, transcripts, clean_root, cfg, snapshot_id="s1",
               chunk_days=2, fmt=fmt)
    assert m["days_skipped"] == 0

    with pytest.raises(RuntimeError, match="injected failure"):
        ingest(
            spark, transcripts, crash_root, cfg, snapshot_id="s1",
            chunk_days=2, fail_after_chunks=2, fmt=fmt,
        )
    # resume: done days are skipped, output identical to the clean run
    m2 = ingest(spark, transcripts, crash_root, cfg, snapshot_id="s1",
                chunk_days=2, fmt=fmt)
    assert m2["days_skipped"] == 4  # 2 chunks x 2 days completed pre-crash

    for name in ("segments", "rollup_1m", "rollup_1h", "rollup_1d"):
        assert _table_fingerprint(spark, clean_root, name, fmt) == \
            _table_fingerprint(spark, crash_root, name, fmt), name

    # idempotent third run: everything skipped
    m3 = ingest(spark, transcripts, crash_root, cfg, snapshot_id="s1",
                chunk_days=2, fmt=fmt)
    assert m3["days_skipped"] == m3["days_total"]

    # metrics/lineage rows exist per partition
    ck = CheckpointStore(crash_root)
    rows = ck.metrics("segments")
    assert len(rows) == m3["days_total"]
    assert all(r["status"] == "done" and r["input_snapshot_id"] == "s1" for r in rows)
    assert all(r["rows_out"] > 0 for r in rows)


def test_chunk_scan_pushes_ts_bounds(spark, transcripts, tmp_path, monkeypatch):
    """Each chunk reads the input itself, not a staged copy: its scan
    carries the chunk's ts range as pushed filters, so a chunk skips
    the files and row groups outside its days."""
    import modelardb_spark.operators.fit as fitmod

    src = str(tmp_path / "in.parquet")
    transcripts.write.parquet(src)
    chunk_inputs = []
    fit = fitmod.fit_segments_from_transcripts

    def spy(part, cfg):
        chunk_inputs.append(part)
        return fit(part, cfg)

    monkeypatch.setattr(fitmod, "fit_segments_from_transcripts", spy)
    root = str(tmp_path / "out")
    ingest(spark, spark.read.parquet(src), root, EngineConfig(),
           snapshot_id="s1", chunk_days=2)
    assert not os.path.exists(os.path.join(root, "staged_transcripts"))
    days = sorted(int(d) for d in TableCatalog(root).list_partitions("segments", "part_day"))
    assert len(chunk_inputs) == (len(days) + 1) // 2 > 1
    ts_text = spark._jvm.java.sql.Timestamp
    for i, part in enumerate(chunk_inputs):
        chunk = days[2 * i : 2 * i + 2]
        plan = part._jdf.queryExecution().executedPlan().toString()
        pushed = plan.split("PushedFilters: [", 1)[1].split("]", 1)[0]
        lo = ts_text(chunk[0] * DAY_MS).toString()
        hi = ts_text((chunk[-1] + 1) * DAY_MS).toString()
        assert f"GreaterThanOrEqual(ts,{lo})" in pushed, pushed
        assert f"LessThan(ts,{hi})" in pushed, pushed


@pytest.fixture(scope="module")
def ingested(spark, transcripts, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("layout"))
    ingest(spark, transcripts, root, EngineConfig(), snapshot_id="s1")
    return root


def _data_files(table_root):
    """{part_day directory: its data files} of one table."""
    return {
        d: sorted(f for f in os.listdir(os.path.join(table_root, d))
                  if not f.startswith((".", "_")))
        for d in os.listdir(table_root) if d.startswith("part_day=")
    }


def test_one_data_file_per_day(ingested):
    for name in ("segments", "rollup_1m", "rollup_1h", "rollup_1d"):
        files = _data_files(os.path.join(ingested, name))
        assert len(files) > 2, name
        assert {d: len(f) for d, f in files.items()} == dict.fromkeys(files, 1), name


def test_segment_files_keep_write_order(ingested):
    """Rows within each segment file are ordered by (mtid, conv_id,
    start_ms), so row-group min/max statistics prune on those columns."""
    import pyarrow.parquet as pq

    base = os.path.join(ingested, "segments")
    for d, files in _data_files(base).items():
        for f in files:
            t = pq.read_table(os.path.join(base, d, f),
                              columns=["mtid", "conv_id", "start_ms"])
            keys = list(zip(*(t.column(c).to_pylist() for c in t.column_names)))
            assert keys == sorted(keys), f"{d}/{f}"


def _all_files(root):
    return sorted(
        os.path.relpath(os.path.join(d, f), root)
        for d, _, files in os.walk(root) for f in files
    )


@pytest.mark.parametrize("fmt", ["parquet", "orc"])
def test_written_files_keep_hadoop_checksums(spark, tmp_path, fmt):
    """Every data file keeps Hadoop's `.crc` sidecar: a flipped byte
    fails the Spark read of its day instead of returning wrong rows,
    and the other day still reads correctly."""
    catalog = TableCatalog(str(tmp_path), fmt)
    df = spark.range(400).select(
        "id", (F.col("id") % 2).alias("part_day"), (F.col("id") * 0.5).alias("v"))
    catalog.overwrite_partitions(df, "t", ["part_day"])
    base = catalog.path("t")
    files = _data_files(base)
    assert sorted(files) == ["part_day=0", "part_day=1"]
    victim = os.path.join(base, "part_day=0", files["part_day=0"][0])
    with open(victim, "rb") as f:
        data = bytearray(f.read())
    data[len(data) // 2] ^= 0xFF
    with open(victim, "wb") as f:
        f.write(data)

    def read_day(day):
        return spark.read.option("basePath", base).format(fmt).load(
            os.path.join(base, f"part_day={day}")).collect()

    with pytest.raises(Exception, match="ChecksumException"):
        read_day(0)
    rows = read_day(1)
    assert sorted((r.id, r.v, r.part_day) for r in rows) == [
        (i, i * 0.5, 1) for i in range(1, 400, 2)]


@pytest.mark.parametrize("kind", ["dir", "snapshot", "cql"])
def test_failed_write_leaves_table_untouched(spark, tmp_path, kind):
    """A partition overwrite whose job fails in a task raises, and the
    table keeps its rows and files: files the task wrote before it
    failed are never committed, and no staging data is left behind."""
    from modelardb_spark.io.snapshots import make_catalog

    def frame(fail):
        # two tasks: day 0 is written at once, day 1 fails on its last row
        day1 = spark.range(10, 200_010, 1, 1).select(
            F.when(F.lit(fail) & (F.col("id") == 200_009),
                   F.raise_error(F.lit("bad day")))
            .otherwise(F.col("id")).alias("id"),
            F.lit(1).cast("long").alias("part_day"),
        )
        day0 = spark.range(0, 10, 1, 1).select(
            "id", F.lit(0).cast("long").alias("part_day"))
        return day0.union(day1)

    root = str(tmp_path)
    catalog = make_catalog(root, "parquet", kind)
    catalog.overwrite_partitions(frame(False), "t", ["part_day"])
    files = _all_files(root)
    with pytest.raises(Exception, match="bad day"):
        catalog.overwrite_partitions(frame(True), "t", ["part_day"])
    assert _all_files(root) == files
    assert catalog.read(spark, "t").agg(F.count("*"), F.sum("id")).first() == (
        200_010, 200_009 * 200_010 // 2)

def test_commit_publishes_only_listed_files(tmp_path):
    """The commit moves exactly the listed files and their sidecars: a
    file in staging that the job did not list (say, from a failed task
    attempt) stays out of the table. A partitioned commit replaces the
    touched day and keeps the others; a whole-table commit replaces
    everything."""
    from modelardb_spark.io.tables import commit_files

    def put(path, data=b"x"):
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "wb") as f:
            f.write(data)

    stage, table = str(tmp_path / "stage"), str(tmp_path / "t")
    for name in ("part-00000-a.parquet", "part-00001-b.parquet"):
        put(os.path.join(stage, "part_day=1", name))
        put(os.path.join(stage, "part_day=1", f".{name}.crc"))
    put(os.path.join(table, "part_day=1", "old.parquet"))
    put(os.path.join(table, "part_day=2", "kept.parquet"))
    commit_files(stage, table, ["part_day=1/part-00000-a.parquet"], depth=1)
    assert _all_files(table) == [
        "part_day=1/.part-00000-a.parquet.crc", "part_day=1/part-00000-a.parquet",
        "part_day=2/kept.parquet"]
    assert os.path.exists(os.path.join(stage, "part_day=1", "part-00001-b.parquet"))

    stage2 = str(tmp_path / "stage2")
    put(os.path.join(stage2, "part_day=3", "part-00000-c.parquet"))
    put(os.path.join(stage2, "part_day=3", ".part-00000-c.parquet.crc"))
    commit_files(stage2, table, ["part_day=3/part-00000-c.parquet"], depth=0)
    assert _all_files(table) == [
        "part_day=3/.part-00000-c.parquet.crc", "part_day=3/part-00000-c.parquet"]


@pytest.mark.parametrize("kind", ["dir", "cql"])
def test_staging_sweep_spares_live_writers(spark, tmp_path, kind):
    """A write reclaims the staging directories crashed writers left
    under the catalog root, but never a young one (a concurrent writer
    mid-commit) nor an old one whose `_old` holds a replaced partition
    (a swap cut short, which may hold the only copy)."""
    import time

    from modelardb_spark.io.snapshots import make_catalog
    from modelardb_spark.io.tables import STAGING_GRACE_NS

    root = str(tmp_path)
    catalog = make_catalog(root, "parquet", kind)
    df = spark.createDataFrame(
        [("c1", "m", 10, 1)],
        "conv_id STRING, metric STRING, start_ms LONG, part_day LONG")
    catalog.overwrite_partitions(df, "t", ["part_day"])
    aged = time.time_ns() - STAGING_GRACE_NS - 1
    young = os.path.join(root, f"_staging-{time.time_ns()}-a")
    old = os.path.join(root, f"_staging-{aged}-b")
    cut = os.path.join(root, f"_staging-{aged}-c")
    for d in (os.path.join(young, "_fresh"), os.path.join(old, "_old"),
              os.path.join(cut, "_old", "0")):
        os.makedirs(d)
    catalog.overwrite_partitions(df, "t", ["part_day"])
    assert os.path.isdir(young)
    assert not os.path.exists(old)
    assert os.path.isdir(os.path.join(cut, "_old", "0"))
    assert [tuple(r) for r in catalog.read(spark, "t").collect()] == [
        ("c1", "m", 10, 1)]


@pytest.mark.parametrize("kind", ["dir", "cql"])
def test_compact_tables_one_file_per_leaf(spark, tmp_path, kind):
    """Maintenance compaction rewrites a table written by several tasks
    to one file per leaf directory and keeps every row."""
    from modelardb_spark.io.snapshots import make_catalog
    from modelardb_spark.jobs.maintain import compact_tables

    catalog = make_catalog(str(tmp_path), "parquet", kind)
    df = spark.range(0, 600, 1, 3).select(
        F.concat(F.lit("c"), (F.col("id") % 7).cast("string")).alias("conv_id"),
        F.lit("m").alias("metric"),
        F.col("id").alias("start_ms"),
        (F.col("id") % 2).alias("part_day"),
    )
    catalog.overwrite_partitions(df, "t", ["part_day"])
    base = catalog.path("t")

    def leaves():
        """{leaf directory: its number of data files}"""
        return {os.path.relpath(d, base): sum(f.endswith(".parquet") for f in files)
                for d, _, files in os.walk(base) if files}

    def per_day():
        counts = {}
        for leaf, n in leaves().items():
            day = leaf.split("/")[0]
            counts[day] = counts.get(day, 0) + n
        return counts

    assert sorted(per_day()) == ["part_day=0", "part_day=1"]
    assert all(n >= 2 for n in per_day().values())
    before = sorted(tuple(r) for r in catalog.read(spark, "t").collect())
    assert compact_tables(spark, catalog, ["t"]) == {"t": 1}
    assert set(leaves().values()) == {1}
    assert sorted(per_day()) == ["part_day=0", "part_day=1"]
    assert sorted(tuple(r) for r in catalog.read(spark, "t").collect()) == before


def test_partition_columns_must_be_integral(spark, tmp_path):
    catalog = TableCatalog(str(tmp_path))
    df = spark.range(4).select("id", F.col("id").cast("string").alias("k"))
    with pytest.raises(ValueError, match="integral"):
        catalog.overwrite_partitions(df, "t", ["k"])
    assert not os.listdir(str(tmp_path))


def test_empty_input_ingests_no_days(spark, transcripts, tmp_path):
    """An input without rows yields no days and an empty time_series
    table, also when the rows are filtered out only at run time."""
    root = str(tmp_path / "empty")
    m = ingest(spark, transcripts.where(F.col("conv_id") == "absent"), root,
               EngineConfig(), snapshot_id="s1")
    assert (m["days_total"], m["segments_written"]) == (0, 0)
    assert TableCatalog(root).read(spark, "time_series").count() == 0


def test_ingest_rejects_multi_day_salt(spark, transcripts, tmp_path):
    """salt_days != 1 breaks the per-day resume unit — must refuse."""
    with pytest.raises(ValueError, match="salt_days"):
        ingest(
            spark, transcripts, str(tmp_path / "bad"),
            EngineConfig(salt_days=2), snapshot_id="s1",
        )


def test_new_snapshot_recomputes(spark, transcripts, tmp_path):
    root = str(tmp_path / "snap")
    ingest(spark, transcripts, root, EngineConfig(), snapshot_id="a", chunk_days=64)
    m = ingest(spark, transcripts, root, EngineConfig(), snapshot_id="b", chunk_days=64)
    assert m["days_skipped"] == 0  # lineage changed -> full recompute


@pytest.mark.parametrize("fmt", ["parquet", "orc"])
def test_retention_drops_cold_tiers(spark, transcripts, tmp_path, fmt):
    root = str(tmp_path / "ret")
    ingest(spark, transcripts, root, EngineConfig(), snapshot_id="s",
           chunk_days=64, fmt=fmt)
    catalog = TableCatalog(root, fmt)
    days = sorted(int(d) for d in catalog.list_partitions("segments", "part_day"))
    assert days
    # "now" such that the oldest day is beyond hot retention but within warm
    now_ms = (days[0] + 10) * DAY_MS
    policy = RetentionPolicy(hot_days=3, warm_days=1000)
    dropped = apply_retention(catalog, policy, now_ms)
    assert dropped["segments"] >= 1
    assert dropped.get("rollup_1m", 0) == 0
    remaining = [int(d) for d in catalog.list_partitions("segments", "part_day")]
    assert all(d >= days[0] + 10 - 3 for d in remaining)
    # rollups still answer for the dropped range (downsampled tier)
    tiers = tiered_rollup(spark, catalog, policy, now_ms)
    old_windows = tiers.where(
        (F.col("window_ms") < (days[0] + 1) * DAY_MS) & (F.col("tier") == "rollup_1d")
    )
    assert old_windows.count() > 0
    # idempotent
    assert apply_retention(catalog, policy, now_ms)["segments"] == 0


def test_ingest_writes_metadata_tables(spark, transcripts, tmp_path):
    """The reference storage schema's time_series and model_type
    metadata tables (JDBCStorage.scala:47-52) exist after ingest."""
    root = str(tmp_path / "meta")
    ingest(spark, transcripts, root, EngineConfig(), snapshot_id="s1")
    catalog = TableCatalog(root)
    ts = catalog.read(spark, "time_series")
    assert set(ts.columns) == {"tid", "conv_id", "metric", "scaling_factor"}
    n_convs = transcripts.select("conv_id").distinct().count()
    assert ts.count() == n_convs * 2  # two metrics per conversation
    assert ts.where("scaling_factor != 1.0").count() == 0
    assert ts.select("tid").distinct().count() == ts.count()
    mt = {r["mtid"]: r["name"] for r in catalog.read(spark, "model_type").collect()}
    assert mt[1].endswith("uncompressed") and mt[4].endswith("gorilla")


def test_model_type_table_is_local(spark):
    """The 4-row model_type table plans as a local relation, with no
    pickled Python RDD behind it, and keeps its rows and schema."""
    from modelardb_spark.io.tables import MODEL_TYPES, model_type_table

    df = model_type_table(spark)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" not in plan and "LocalTableScan" in plan
    assert df.schema == spark.createDataFrame([], "mtid INT, name STRING").schema
    assert [tuple(r) for r in df.collect()] == MODEL_TYPES


def test_grouped_ingest_same_rollups(spark, transcripts, tmp_path):
    """grouped=True writes GROUP segments: identical rollup tables at
    bound 0 (the compression trade-off is workload-dependent and
    measured in tests/test_groupfit.py)."""
    import glob

    a = str(tmp_path / "flat")
    b = str(tmp_path / "grp")
    ingest(spark, transcripts, a, EngineConfig(), snapshot_id="s")
    ingest(spark, transcripts, b, EngineConfig(), snapshot_id="s", grouped=True)
    for name in ("rollup_1m", "rollup_1h", "rollup_1d"):
        assert _table_fingerprint(spark, a, name) == _table_fingerprint(
            spark, b, name
        ), name

    # group rows carry the whole conversation's metrics (schema check);
    # which path stores FEWER bytes is data-dependent — long constant
    # runs favor per-series PMC, short mixed runs favor group metadata
    # sharing (the 1.88x win on the events workload is asserted in
    # tests/test_groupfit.py; the router in groupfit.py is the knob)
    seg_b = TableCatalog(b).read(spark, "segments")
    assert "tids" in seg_b.columns and "gaps" in seg_b.columns
    assert seg_b.where(F.col("group_size") == 2).count() > 0


@pytest.mark.parametrize("grouped", [False, True])
def test_checkpoint_counts_come_from_the_write(spark, transcripts, tmp_path, grouped):
    """Each day's checkpoint row holds the day's stored segments and
    stored values (sum of `n`), as the write tasks count them, also
    when one chunk holds days of unequal size."""
    root = str(tmp_path / "cat")
    m = ingest(spark, transcripts, root, EngineConfig(), snapshot_id="s1", grouped=grouped)
    assert m["chunks"] == 1
    want = {
        str(r["part_day"]): (int(r["points"]), int(r["segs"]))
        for r in TableCatalog(root).read(spark, "segments").groupBy("part_day")
        .agg(F.count("*").alias("segs"), F.sum("n").alias("points")).collect()
    }
    assert len({segs for _, segs in want.values()}) > 1
    got = {r["partition_id"]: (r["rows_in"], r["rows_out"])
           for r in CheckpointStore(root).metrics("segments")}
    assert got == want
    assert m["segments_written"] == sum(segs for _, segs in want.values())


@pytest.mark.parametrize("kind", ["dir", "cql"])
@pytest.mark.parametrize("whole", [False, True])
def test_failed_commit_keeps_each_partition(spark, tmp_path, monkeypatch, kind, whole):
    """A write whose k-th `os.rename` fails, for every k, raises and
    leaves each touched partition (for a whole-table overwrite, the
    table) of each table it writes at its old or its new version, never
    missing; a partition it does not touch keeps its old one, and no
    staging directory is left behind."""
    import shutil

    from modelardb_spark.io.snapshots import make_catalog

    def frame(days, v):
        return spark.createDataFrame(
            [(f"c{i}", "m", i, d, v) for d in days for i in range(3)],
            "conv_id STRING, metric STRING, start_ms LONG, part_day LONG, v LONG")

    # a derived table: one row per partition, its row count
    derived = {} if whole else {
        "t_rows": lambda rows, _, keys: rows.group_by(keys).aggregate([([], "count_all")])}
    tables = ["t", *derived]

    def write(root, df):
        catalog = make_catalog(root, "parquet", kind)
        if whole:
            catalog.overwrite(df, "t", ["part_day"])
        else:
            catalog.overwrite_partitions(df, "t", ["part_day"], derived=derived)

    def state(root):
        catalog = make_catalog(root, "parquet", kind)
        out = {}
        for t in tables:
            for r in catalog.read(spark, t).collect():
                out.setdefault((t, r["part_day"]), []).append(tuple(r))
        return {k: sorted(v) for k, v in out.items()}

    base = str(tmp_path / "base")
    write(base, frame([1, 2, 3], 0))
    old = state(base)
    new_frame = frame([2, 4] if whole else [2, 3], 1)
    done = str(tmp_path / "done")
    shutil.copytree(base, done)
    real_rename, calls = os.rename, []

    def counting(src, dst):
        calls.append(src)
        real_rename(src, dst)

    monkeypatch.setattr(os, "rename", counting)
    write(done, new_frame)
    monkeypatch.setattr(os, "rename", real_rename)
    new = state(done)
    renames = len(calls)
    assert renames >= 4

    for k in range(1, renames + 1):
        root = str(tmp_path / f"k{k}")
        shutil.copytree(base, root)
        seen = []

        def failing(src, dst):
            seen.append(src)
            if len(seen) == k:
                raise OSError(f"injected failure of rename {k}")
            real_rename(src, dst)

        monkeypatch.setattr(os, "rename", failing)
        with pytest.raises(OSError, match="injected"):
            write(root, new_frame)
        monkeypatch.setattr(os, "rename", real_rename)
        got = state(root)
        if whole:
            assert got in (old, new), k
        else:
            for key in old.keys() | new.keys():
                assert got.get(key) in (old.get(key), new.get(key)), (k, key)
                if key not in new:
                    assert got[key] == old[key], (k, key)
        assert not [d for d in os.listdir(root) if d.startswith("_staging-")], k
