"""Edge->cloud segment transfer: resumable, idempotent, model-type
checked (remote/RemoteStorage.scala:148-281 semantics), plus the Arrow
Flight wire layer (RemoteStorageFlightProducer / QueryInterface
FlightProducer analogues)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from modelardb_spark.config import EngineConfig
from modelardb_spark.io.tables import TableCatalog
from modelardb_spark.jobs.ingest import ingest
from modelardb_spark.jobs.transfer import (
    SEGMENT_KEYS,
    assert_model_types,
    transfer_segments,
)
from modelardb_spark.operators.rollup import HOUR_MS, MINUTE_MS, rollup_from_segments
from modelardb_spark.operators.transcripts import transcripts_from_events


def _sorted_rows(df):
    return sorted(map(tuple, df.collect()))


@pytest.fixture(scope="module")
def edge_root(spark, sf_small, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("edge"))
    ingest(
        spark,
        transcripts_from_events(spark, sf_small),
        root,
        EngineConfig(),
        chunk_days=64,
    )
    return root


def test_transfer_round_trip_and_resume(spark, edge_root, tmp_path):
    cloud = str(tmp_path / "cloud")
    # crash after the first chunk...
    with pytest.raises(RuntimeError, match="injected failure"):
        transfer_segments(
            spark, edge_root, cloud, chunk_days=8, fail_after_chunks=1
        )
    # ...resume: only the missing days re-ship
    m = transfer_segments(spark, edge_root, cloud, chunk_days=8)
    assert m["days_skipped"] >= 8
    src = TableCatalog(edge_root).read(spark, "segments")
    dst = TableCatalog(cloud).read(spark, "segments")
    assert _sorted_rows(dst) == _sorted_rows(src)
    # rollups over the cloud copy equal rollups over the edge copy
    assert _sorted_rows(
        rollup_from_segments(dst, HOUR_MS, MINUTE_MS)
    ) == _sorted_rows(
        rollup_from_segments(src, HOUR_MS, MINUTE_MS)
    )
    # metadata rode along
    cat = TableCatalog(cloud)
    assert cat.exists("time_series") and cat.exists("model_type")
    # a second run is a no-op (every day checkpointed done)
    m2 = transfer_segments(spark, edge_root, cloud)
    assert m2["days_skipped"] == m2["days_total"]
    assert m2["chunks"] == 0


def test_transfer_dedup_is_idempotent(spark, edge_root, tmp_path):
    """Pre-seed the cloud with a duplicated slice of one day (a
    partial earlier shipment); the transfer must not double any
    (conv_id, metric, start_ms)."""
    cloud = str(tmp_path / "cloud2")
    src_cat = TableCatalog(edge_root)
    seg = src_cat.read(spark, "segments")
    day = int(src_cat.list_partitions("segments", "part_day")[0])
    TableCatalog(cloud).overwrite_partitions(
        seg.where(F.col("part_day") == day).limit(50), "segments", ["part_day"]
    )
    transfer_segments(spark, edge_root, cloud)
    dst = TableCatalog(cloud).read(spark, "segments")
    assert dst.count() == seg.count()
    dup = (
        dst.groupBy(*SEGMENT_KEYS).count().where(F.col("count") > 1).count()
    )
    assert dup == 0


def test_model_type_mismatch_refuses(spark, edge_root, tmp_path):
    """The reference's pre-transfer check: a cloud whose mtid maps to a
    different implementation refuses the shipment
    (RemoteStorage.scala:236-247)."""
    cloud = str(tmp_path / "cloud3")
    from modelardb_spark.io.tables import MODEL_TYPES

    swapped = [
        (mtid, "other.engine.Model" if mtid == 2 else name)
        for mtid, name in MODEL_TYPES
    ]
    cat = TableCatalog(cloud)
    cat.overwrite(
        spark.createDataFrame(swapped, "mtid INT, name STRING"), "model_type"
    )
    with pytest.raises(ValueError, match="mtids must agree"):
        assert_model_types(spark, TableCatalog(edge_root), cat)
    # and an edge with MORE types than the cloud also refuses
    cat.overwrite(
        spark.createDataFrame(MODEL_TYPES[:2], "mtid INT, name STRING"),
        "model_type",
    )
    with pytest.raises(ValueError, match="model types"):
        assert_model_types(spark, TableCatalog(edge_root), cat)


def test_flight_put_get_round_trip(spark, edge_root, tmp_path):
    """Arrow Flight wire: segments shipped via do_put land durably in
    the receiver's store; a SQL ticket via do_get streams the same
    result the session computes locally; model_types matches the
    registered table (the reference's three wire calls)."""
    pytest.importorskip("pyarrow.flight")
    from modelardb_spark.operators.sqlfunctions import register_sql_functions
    from modelardb_spark.operators.views import register_views
    from modelardb_spark.remote.flight import (
        SegmentFlightServer,
        get_query,
        model_types,
        put_table,
    )

    seg = TableCatalog(edge_root).read(spark, "segments")
    register_views(spark, seg)
    register_sql_functions(spark)

    store = str(tmp_path / "recv")
    server = SegmentFlightServer(store, spark=spark)
    loc = f"grpc://127.0.0.1:{server.port}"
    try:
        # ship the wire columns of 100 segments
        wire = seg.select(
            "conv_id", "metric", "start_ms", "end_ms", "interval_ms",
            "mtid", "model",
        ).limit(100)
        put_table(loc, "segments", wire.toArrow())
        stored = spark.read.parquet(f"{store}/segments")
        assert stored.count() == 100
        assert server.rows_received == 100
        assert _sorted_rows(stored) == _sorted_rows(wire)

        # query results as an Arrow stream, full SQL surface (# sugar)
        got = get_query(
            loc, "SELECT conv_id, COUNT_S(#) AS cnt FROM segments GROUP BY conv_id"
        )
        local = spark.sql(
            "SELECT conv_id, SUM((end_ms - start_ms) DIV interval_ms + 1) "
            "AS cnt FROM segments GROUP BY conv_id"
        )
        assert sorted(got.to_pylist(), key=lambda r: r["conv_id"]) == [
            r.asDict() for r in local.orderBy("conv_id").collect()
        ]

        names = model_types(loc)
        assert names[0].endswith("pmc_mean") and len(names) == 3
    finally:
        server.shutdown()


def test_transfer_converts_formats(spark, edge_root, tmp_path):
    """Cross-backend shipment (ParquetStorage edge -> ORCStorage
    cloud): the transfer job converts formats in flight; content and
    rollups are identical."""
    cloud = str(tmp_path / "cloud_orc")
    transfer_segments(spark, edge_root, cloud, dst_fmt="orc")
    src = TableCatalog(edge_root).read(spark, "segments")
    dst = TableCatalog(cloud, "orc").read(spark, "segments")
    assert _sorted_rows(dst.select(*src.columns)) == _sorted_rows(src)
    assert _sorted_rows(
        rollup_from_segments(dst, HOUR_MS, MINUTE_MS)
    ) == _sorted_rows(rollup_from_segments(src, HOUR_MS, MINUTE_MS))


def test_transfer_intra_source_duplicates_with_existing_dst(spark, edge_root, tmp_path):
    """A source partition carrying duplicate keys must land exactly
    once at the cloud even when the destination table ALREADY exists
    (the dedup runs unconditionally, not only on first shipment)."""
    import shutil

    # edge copy with one day's rows physically duplicated
    dup_edge = str(tmp_path / "dup_edge")
    shutil.copytree(edge_root, dup_edge)
    cat = TableCatalog(dup_edge)
    seg = cat.read(spark, "segments")
    orig_rows = seg.count()
    days = sorted(int(d) for d in cat.list_partitions("segments", "part_day"))
    doubled = seg.where(F.col("part_day") == days[-1])
    seed = seg.where(F.col("part_day") == days[0]).localCheckpoint(eager=True)
    cat.overwrite_partitions(
        doubled.unionByName(doubled).localCheckpoint(eager=True),
        "segments",
        ["part_day"],
    )

    # destination pre-seeded with a DIFFERENT day -> dst.exists() is
    # True when the duplicated day ships
    cloud = str(tmp_path / "cloud_dup")
    TableCatalog(cloud).overwrite_partitions(seed, "segments", ["part_day"])
    transfer_segments(spark, dup_edge, cloud)
    dst = TableCatalog(cloud).read(spark, "segments")
    dup = dst.groupBy(*SEGMENT_KEYS).count().where(F.col("count") > 1).count()
    assert dup == 0
    assert dst.count() == orig_rows


def test_transfer_checkpoints_each_days_own_rows_in(spark, edge_root, tmp_path):
    """Two source days with unequal segment counts shipped in ONE chunk:
    each day's checkpoint row records that day's own input count, not
    the chunk's average."""
    import shutil

    from modelardb_spark.io.checkpoints import CheckpointStore

    edge = str(tmp_path / "two_day_edge")
    shutil.copytree(edge_root, edge)
    cat = TableCatalog(edge)
    seg = cat.read(spark, "segments")
    d0, d1 = sorted(int(d) for d in cat.list_partitions("segments", "part_day"))[:2]
    first = seg.where(F.col("part_day") == d0)
    second = seg.where(F.col("part_day") == d1)
    two_days = first.unionByName(second.limit(max(1, second.count() // 3)))
    cat.overwrite(two_days.localCheckpoint(eager=True), "segments", ["part_day"])
    want = {
        str(r["part_day"]): r["count"]
        for r in cat.read(spark, "segments").groupBy("part_day").count().collect()
    }
    assert len(want) == 2 and len(set(want.values())) == 2

    cloud = str(tmp_path / "two_day_cloud")
    m = transfer_segments(spark, edge, cloud, chunk_days=64)
    assert m["chunks"] == 1
    got = {
        r["partition_id"]: r["rows_in"]
        for r in CheckpointStore(cloud).metrics("transfer:segments")
    }
    assert got == want
