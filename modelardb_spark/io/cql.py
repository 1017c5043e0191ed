"""CQL (Cassandra) segment catalog — CassandraStorage.scala parity.

The reference ships a Cassandra backend (storage/CassandraStorage.scala)
whose lessons are the data model, not the driver plumbing:

- **Partition key = series group, clustering key = time.** The segment
  table is ``segment(gid INT, start_time TIMESTAMP, end_time TIMESTAMP,
  mtid INT, model BLOB, gaps BLOB, PRIMARY KEY (gid, start_time, gaps))``
  (CassandraStorage.scala:245) — all segments of one group live in one
  Cassandra partition, stored in time order, so a group lookup touches
  one replica and a time-range scan within it is sequential.
- **Token routing.** Cassandra's Murmur3Partitioner routes each row to
  a token range by murmur3(partition key); the Spark connector maps
  token ranges to input splits. Spark's built-in ``hash()`` is the same
  Murmur3 x86_32 family (seed 42), so the embedded layout below renders
  the ring faithfully: ``tr = pmod(hash(conv_id), vnodes)``.
- **Bounded write batches.** Inserts are flushed every 65535 statements
  — the maximum batch size Cassandra supports
  (CassandraStorage.scala:139-146).
- **Connection string** ``host?keyspace=ks&username=u&password=p``
  with defaults (modelardb / cassandra / cassandra)
  (CassandraStorage.scala:parseConnectionString, :216-233).

No Cassandra service or driver exists in this sandbox, so the catalog
has two planes:

- The **embedded plane** (always available) renders the same physical
  layout over local columnar files: ``<table>/<part cols>/tr=<bucket>/``
  with rows in clustering order ``(conv_id, metric, start_ms)`` inside
  each bucket file. Every catalog-protocol operation works (ingest,
  transfer, maintenance), and a partition-key query prunes to ONE token
  bucket per day (``read_for_key`` — 1/vnodes of the files). Writes go
  through the file catalogs' one staged writer
  (io/tables.py::write_files/commit_files): tasks write the bucket
  files to a staging directory, the driver renames exactly those into
  place and swaps each day with all its buckets, so
  ``overwrite_partitions`` keeps the jobs' day-replace resume contract
  (Cassandra itself would upsert by primary key — the reference writes
  SaveMode.Append for exactly that reason,
  CassandraStorage.scala:200-206).
- The **live plane** emits the reference's exact CQL: ``ddl_statements``
  returns the CREATE KEYSPACE/TABLE set, and ``write_segments_cql``
  ships a DataFrame executor-parallel (foreachPartition, one session
  per task, 65535-capped batches). It requires the ``cassandra``
  driver package, which is gated behind an import — an honest
  ``NotImplementedError`` here.

At 100 TB: the partition key keeps each conversation's segments
co-located (point lookups touch one bucket), vnodes bound the largest
token range, and writes stream per-executor with bounded batches — no
driver collect anywhere.
"""

from __future__ import annotations

from typing import Iterable, Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from modelardb_spark.io.tables import TableCatalog

#: Cassandra's hard cap on statements per batch (CassandraStorage.scala:139)
MAX_BATCH_STATEMENTS = 65535

#: virtual-node (token-range) count of the embedded ring
VNODES = 16

_TR = "tr"


def parse_connection(connection_string: str) -> tuple[str, str, str, str]:
    """``host?keyspace=ks&username=u&password=p`` -> (host, keyspace,
    username, password), with the reference's defaults
    (CassandraStorage.scala:216-233)."""
    parts = connection_string.split("?")
    if len(parts) not in (1, 2):
        raise ValueError(
            f"unable to parse connection string {connection_string!r}"
        )
    params: dict[str, str] = {}
    if len(parts) == 2:
        for kv in parts[1].split("&"):
            k, _, v = kv.partition("=")
            params[k] = v
    return (
        parts[0],
        params.get("keyspace", "modelardb"),
        params.get("username", "cassandra"),
        params.get("password", "cassandra"),
    )


def ddl_statements(keyspace: str = "modelardb") -> list[str]:
    """The reference's schema, rendered for this engine's segment model
    (conv_id/metric stand in for gid; cf. CassandraStorage.scala:239-252).
    """
    return [
        f"CREATE KEYSPACE IF NOT EXISTS {keyspace} WITH REPLICATION = "
        "{ 'class' : 'SimpleStrategy', 'replication_factor' : 1 };",
        f"CREATE TABLE IF NOT EXISTS {keyspace}.segment("
        "conv_id TEXT, metric TEXT, start_ms BIGINT, end_ms BIGINT, "
        "interval_ms BIGINT, mtid INT, model BLOB, n BIGINT, "
        "PRIMARY KEY ((conv_id), metric, start_ms));",
        f"CREATE TABLE IF NOT EXISTS {keyspace}.time_series("
        "conv_id TEXT, metric TEXT, scaling_factor FLOAT, "
        "sampling_interval BIGINT, PRIMARY KEY ((conv_id), metric));",
        f"CREATE TABLE IF NOT EXISTS {keyspace}.model_type("
        "mtid INT, name TEXT, PRIMARY KEY (mtid));",
    ]


def iter_cql_batches(
    rows: Iterable,
    cap: int = MAX_BATCH_STATEMENTS,
    max_bytes: int | None = None,
    row_bytes=None,
) -> Iterator[list]:
    """Chunk an iterable of rows into Cassandra-legal batches: every
    yielded list has at most `cap` rows (CassandraStorage.scala:139-146
    flushes at exactly this bound) AND, when `max_bytes`/`row_bytes`
    are given, at most ~max_bytes of payload — a statement-count cap
    alone can exceed a real cluster's batch_size_fail_threshold
    (default ~50 KB) with BLOB-carrying segment rows. A single
    over-sized row still ships (in its own batch) so the writer never
    deadlocks on one fat model."""
    batch: list = []
    size = 0
    for row in rows:
        b = row_bytes(row) if row_bytes is not None and max_bytes else 0
        if batch and (
            len(batch) == cap
            or (max_bytes is not None and size + b > max_bytes)
        ):
            yield batch
            batch = []
            size = 0
        batch.append(row)
        size += b
    if batch:
        yield batch


def _send_rows(rows: Iterable, connection_string: str) -> None:
    """Executor-side: open one CQL session, stream bounded batches.
    Requires the public `cassandra-driver` package (not installed in
    this sandbox — honest capability boundary)."""
    try:
        from cassandra.cluster import Cluster  # noqa: F401
    except ImportError as e:
        raise NotImplementedError(
            "live CQL writes need the cassandra-driver package; this "
            "environment ships none — use the embedded CqlCatalog plane"
        ) from e
    host, keyspace, user, password = parse_connection(connection_string)
    from cassandra.auth import PlainTextAuthProvider

    cluster = Cluster(
        [host], auth_provider=PlainTextAuthProvider(user, password)
    )
    session = cluster.connect()
    for stmt in ddl_statements(keyspace):
        session.execute(stmt)
    insert = session.prepare(
        f"INSERT INTO {keyspace}.segment(conv_id, metric, start_ms, "
        "end_ms, interval_ms, mtid, model, n) VALUES (?,?,?,?,?,?,?,?)"
    )
    insert.is_idempotent = True  # reference sets setIdempotent(true)
    from cassandra.query import BatchStatement, BatchType

    # LOGGED idempotent bound-statement batches flushed at the 65535
    # statement cap — the reference's write shape
    # (CassandraStorage.scala:127-146, :268) — AND at ~45 KB of model
    # payload, below real Cassandra's default ~50 KB
    # batch_size_fail_threshold (a statement-count cap alone would
    # trip it with BLOB-carrying rows)
    for batch in iter_cql_batches(
        rows,
        max_bytes=45 * 1024,
        row_bytes=lambda r: 48 + len(r["model"]),
    ):
        bs = BatchStatement(batch_type=BatchType.LOGGED)
        for r in batch:
            bs.add(
                insert,
                (r["conv_id"], r["metric"], r["start_ms"], r["end_ms"],
                 r["interval_ms"], r["mtid"], bytes(r["model"]), r["n"]),
            )
        session.execute(bs)
    cluster.shutdown()


def write_segments_cql(df: DataFrame, connection_string: str) -> None:
    """Live plane: ship a segment DataFrame to a Cassandra cluster,
    executor-parallel (one session per task — the Spark-connector
    write shape, CassandraStorage.scala:200-206)."""
    cols = ["conv_id", "metric", "start_ms", "end_ms", "interval_ms",
            "mtid", "model", "n"]
    df.select(*cols).foreachPartition(
        lambda rows: _send_rows(rows, connection_string)
    )


class CqlCatalog(TableCatalog):
    """Embedded rendering of the Cassandra layout over local columnar
    files; same catalog protocol as TableCatalog/SnapshotCatalog/
    JdbcCatalog, so ingest/transfer/maintain run unchanged over it.
    Writes go through `TableCatalog`'s staged writer; this class adds
    only the layout (token bucket directories, clustering order) and
    the partition-key read."""

    # conv_id is the gid-analogue partition key; clustering order is
    # (metric, start_ms) — PRIMARY KEY ((conv_id), metric, start_ms)
    def _key_cols(self, df: DataFrame) -> list[str]:
        return ["conv_id"] if "conv_id" in df.columns else [df.columns[0]]

    def _cluster_cols(self, df: DataFrame) -> list[str]:
        return [c for c in ("metric", "start_ms", "bucket_ms")
                if c in df.columns]

    def token_of(self, spark: SparkSession, *key_values) -> int:
        """Driver-side token of a partition key — computed BY Spark
        (one local 1-row job) so it is bit-identical to the executor
        expression; avoids hand-porting Spark's Murmur3 tail handling."""
        cols = [F.lit(v) for v in key_values]
        return (
            spark.range(1)
            .select(F.pmod(F.hash(*cols), F.lit(VNODES)).cast("int"))
            .first()[0]
        )

    # -- reads ---------------------------------------------------------
    def read(self, spark: SparkSession, name: str) -> DataFrame:
        return super().read(spark, name).drop(_TR)

    def read_for_key(
        self, spark: SparkSession, name: str, conv_id: str
    ) -> DataFrame:
        """Partition-key lookup: the tr literal prunes the scan to one
        token bucket per day directory (1/vnodes of the files) before
        the exact conv_id filter re-applies — Cassandra's single-
        replica point read, rendered as directory pruning."""
        tr = self.token_of(spark, conv_id)
        return (
            super().read(spark, name)
            .where((F.col(_TR) == F.lit(tr)) &
                   (F.col("conv_id") == F.lit(conv_id)))
            .drop(_TR)
        )

    # -- writes --------------------------------------------------------
    def _layout(
        self, df: DataFrame, partition_by: list[str]
    ) -> tuple[DataFrame, list[str]]:
        """Token bucket directories below the partition columns, rows
        in clustering order inside each bucket file. The staged writer
        swaps whole partitions, so a bucket the new rows lack does not
        survive from the old ones."""
        key = self._key_cols(df)
        df = df.withColumn(
            _TR, F.pmod(F.hash(*key), F.lit(VNODES)).cast("int"))
        order = partition_by + [_TR] + key + self._cluster_cols(df)
        return df.sortWithinPartitions(*order), partition_by + [_TR]
