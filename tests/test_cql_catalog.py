"""CQL (Cassandra-layout) catalog — parity with the reference's
Cassandra backend (storage/CassandraStorage.scala): token-routed
partition-key layout, clustering order, bounded batches, the exact
DDL/connection-string surface, and full ingest/transfer through the
embedded plane."""

from __future__ import annotations

import glob
import os

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from modelardb_spark.config import EngineConfig
from modelardb_spark.io.cql import (
    MAX_BATCH_STATEMENTS,
    VNODES,
    CqlCatalog,
    _send_rows,
    ddl_statements,
    iter_cql_batches,
    parse_connection,
)
from modelardb_spark.io.tables import TableCatalog
from modelardb_spark.jobs.ingest import ingest
from modelardb_spark.operators.transcripts import transcripts_from_events


def _rows(df):
    return sorted(map(tuple, df.collect()))


@pytest.fixture(scope="module")
def cql_root(spark, sf_small, tmp_path_factory):
    """One embedded-plane catalog holding a full crash-resumed ingest."""
    root = str(tmp_path_factory.mktemp("cql") / "ks")
    t = transcripts_from_events(spark, sf_small)
    with pytest.raises(RuntimeError, match="injected failure"):
        ingest(
            spark, t, root, EngineConfig(), chunk_days=8,
            fail_after_chunks=1, catalog_kind="cql",
        )
    m = ingest(spark, t, root, EngineConfig(), chunk_days=8, catalog_kind="cql")
    assert m["days_skipped"] >= 8
    return root


def test_cql_ingest_equals_dir_catalog(spark, sf_small, cql_root, tmp_path):
    """Same segments/rollups as the dir catalog — the layout changes,
    the data must not (incl. across the injected crash/resume)."""
    ref_root = str(tmp_path / "ref")
    ingest(spark, transcripts_from_events(spark, sf_small), ref_root, EngineConfig())
    ref = TableCatalog(ref_root)
    cat = CqlCatalog(cql_root)
    for table in ["segments", "rollup_1m", "rollup_1h", "rollup_1d"]:
        a = ref.read(spark, table)
        b = cat.read(spark, table).select(*a.columns)
        assert _rows(a) == _rows(b), table


def test_cql_token_bucket_layout(spark, cql_root):
    """Physical layout = <table>/part_day=<d>/tr=<bucket>/: every data
    file sits under a token-range dir, and every row's executor-side
    token matches its directory (the ring is consistent)."""
    cat = CqlCatalog(cql_root)
    files = glob.glob(os.path.join(cql_root, "segments", "*", "*", "*.parquet"))
    assert files, "no data files"
    assert all("/tr=" in f for f in files)
    df = spark.read.parquet(cat.path("segments"))
    bad = df.where(
        F.col("tr") != F.pmod(F.hash("conv_id"), F.lit(VNODES)).cast("int")
    )
    assert bad.count() == 0


def test_cql_partition_key_pruning(spark, cql_root):
    """A conv_id point lookup scans only its token bucket: the pruned
    plan touches ~1/vnodes of the files the full scan does, and returns
    exactly the rows a plain filter does."""
    cat = CqlCatalog(cql_root)
    full = cat.read(spark, "segments")
    conv = full.select("conv_id").first()[0]
    pruned = cat.read_for_key(spark, "segments", conv)
    assert _rows(pruned) == _rows(full.where(F.col("conv_id") == conv))
    # the token literal must land in the scan's PartitionFilters (true
    # directory pruning, not a post-scan filter)
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    part = plan[plan.index("PartitionFilters"):][:200]
    assert f"= {cat.token_of(spark, conv)}" in part, part


def test_cql_clustering_order(spark, cql_root):
    """Rows inside each data file are stored in clustering order
    (metric, start_ms) per conv_id — PRIMARY KEY ((conv_id), metric,
    start_ms), so time-range scans within a partition are sequential."""
    files = glob.glob(os.path.join(cql_root, "segments", "*", "*", "*.parquet"))
    t = pq.read_table(files[0], columns=["conv_id", "metric", "start_ms"])
    rows = list(zip(*[t.column(c).to_pylist() for c in t.column_names]))
    assert rows == sorted(rows), files[0]


def test_cql_overwrite_partitions_replaces_days(spark, tmp_path):
    """The day-replace resume contract: re-writing one day swaps that
    day's directories and leaves other days untouched."""
    cat = CqlCatalog(str(tmp_path / "ks"))
    mk = lambda day, val: spark.createDataFrame(
        [("c1", "m", val, day)],
        "conv_id STRING, metric STRING, start_ms LONG, part_day LONG",
    )
    cat.overwrite_partitions(mk(1, 10).union(mk(2, 20)), "t", ["part_day"])
    cat.overwrite_partitions(mk(2, 99), "t", ["part_day"])
    got = {(r["part_day"], r["start_ms"]) for r in cat.read(spark, "t").collect()}
    assert got == {(1, 10), (2, 99)}
    assert cat.list_partitions("t", "part_day") == ["1", "2"]
    assert not glob.glob(os.path.join(str(tmp_path / "ks"), "_staging-*"))


def test_cql_day_overwrite_drops_missing_buckets(spark, tmp_path):
    """A day is replaced with all its token buckets: a bucket the old
    day held and the new rows lack keeps no rows, and other days keep
    theirs."""
    cat = CqlCatalog(str(tmp_path / "ks"))
    schema = "conv_id STRING, metric STRING, start_ms LONG, part_day LONG"
    old = spark.createDataFrame(
        [(f"c{i}", "m", i, 1) for i in range(40)] + [("c0", "m", 0, 2)], schema)
    cat.overwrite_partitions(old, "t", ["part_day"])
    buckets = lambda day: sorted(os.listdir(os.path.join(cat.path("t"), f"part_day={day}")))
    assert len(buckets(1)) > 1
    cat.overwrite_partitions(
        spark.createDataFrame([("c0", "m", 99, 1)], schema), "t", ["part_day"])
    assert len(buckets(1)) == 1
    got = sorted(tuple(r) for r in cat.read(spark, "t").collect())
    assert got == [("c0", "m", 0, 2), ("c0", "m", 99, 1)]


def test_cql_transfer_to_dir_catalog(spark, cql_root, tmp_path):
    """Edge->cloud transfer out of the CQL layout into a dir catalog."""
    from modelardb_spark.jobs.transfer import transfer_segments

    dst = str(tmp_path / "cloud")
    m = transfer_segments(spark, cql_root, dst, src_kind="cql", dst_kind="dir")
    assert m["rows_at_destination"] > 0
    src_n = CqlCatalog(cql_root).read(spark, "segments").count()
    assert m["rows_at_destination"] == src_n


def test_cql_ddl_parity():
    """The live plane's DDL mirrors the reference's schema: keyspace +
    segment/time_series/model_type with the partition/clustering key
    split (CassandraStorage.scala:239-252)."""
    stmts = ddl_statements("ks")
    assert "CREATE KEYSPACE IF NOT EXISTS ks" in stmts[0]
    assert "'replication_factor' : 1" in stmts[0]
    seg = stmts[1]
    assert "ks.segment(" in seg and "model BLOB" in seg
    assert "PRIMARY KEY ((conv_id), metric, start_ms)" in seg
    assert any("ks.time_series(" in s for s in stmts)
    assert any("ks.model_type(" in s for s in stmts)


def test_cql_connection_string_parse():
    """host?keyspace=&username=&password= with the reference defaults
    (CassandraStorage.scala:216-233)."""
    assert parse_connection("127.0.0.1") == (
        "127.0.0.1", "modelardb", "cassandra", "cassandra",
    )
    assert parse_connection("h?keyspace=ks&username=u&password=p") == (
        "h", "ks", "u", "p",
    )
    with pytest.raises(ValueError):
        parse_connection("h?x?y")


def test_cql_batch_cap():
    """Batches flush at Cassandra's 65535-statement bound
    (CassandraStorage.scala:139-146)."""
    sizes = [len(b) for b in iter_cql_batches(range(MAX_BATCH_STATEMENTS + 7))]
    assert sizes == [MAX_BATCH_STATEMENTS, 7]
    assert [len(b) for b in iter_cql_batches(range(5), cap=2)] == [2, 2, 1]
    assert list(iter_cql_batches([])) == []


def test_cql_live_plane_is_honest_stub():
    """Without the cassandra-driver package the live writer refuses
    clearly instead of pretending."""
    with pytest.raises(NotImplementedError, match="cassandra-driver"):
        _send_rows([{"conv_id": "c"}], "127.0.0.1")


def test_iter_cql_batches_byte_cap():
    """Batches must also flush at the byte budget (real Cassandra's
    batch_size_fail_threshold), not only at the statement cap; one
    over-budget row still ships alone."""
    rows = [{"model": b"x" * n} for n in (10, 10, 60_000, 10, 10, 10)]
    batches = list(
        iter_cql_batches(
            rows, max_bytes=200, row_bytes=lambda r: 48 + len(r["model"])
        )
    )
    assert [len(b) for b in batches] == [2, 1, 3]
    assert batches[1][0]["model"] == b"x" * 60_000
    # byte budget respected wherever a batch has >1 row
    for b in batches:
        if len(b) > 1:
            assert sum(48 + len(r["model"]) for r in b) <= 200
