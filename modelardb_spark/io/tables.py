"""Table catalog: partitioned parquet/ORC directories, written from Arrow.

Production target is Apache Iceberg (`df.writeTo(...).append()`,
snapshot isolation, `rewrite_data_files` compaction, partition specs
like ``bucket(N, conv_id), days(start_ts)``) — the ACID commit +
write-ahead-log machinery the reference hand-rolled for its file
backends (storage/FileStorage.scala:83-233) is exactly what Iceberg
provides natively. This sandbox ships no Iceberg runtime jars, so
`TableCatalog` degrades to the same contract over partitioned
directories with last-writer-wins overwrite per partition — writes go
through `overwrite_partitions`, which is idempotent per partition key,
giving the resume semantics the checkpoint layer needs.

Data files are written by `write_files`, one `mapInArrow` pass: each
task writes one file per partition value it holds (rows in frame
order) with `pyarrow.parquet` or `pyarrow.orc`, plus a Hadoop-format
``.<file>.crc`` sidecar so Spark's checksummed local file system still
verifies every read, and returns the relative paths it wrote. The
driver then commits exactly those files (`commit_files`): they move
out of a staging directory under the catalog root into a fresh tree,
which replaces each touched partition directory (or, for `overwrite`,
the whole table) by a directory rename. A failed job, or a failed
task attempt's leftovers, never reaches the table, and the staging
directory is removed either way. Since the old files stay in place
until the commit, a write may read the table it replaces. Neither
Spark's `DataFrameWriter` nor its Hadoop output committer is involved:
a file costs one Arrow write and a rename for it and for its sidecar,
and no `chmod` process is forked (pip PySpark ships no native Hadoop
library, so Hadoop's local file system forks one per file, sidecar and
directory it creates).

`write_files` writes the data files of every file catalog, and
`TableCatalog._write` commits them for the directory layout, for the
CQL layout (`io/cql.py::CqlCatalog` only adds token bucket directories
below the partition columns, through `_layout`) and for stream
compaction; the snapshot catalog publishes them through its manifests
instead. Crash leftovers follow one rule: before each write,
`_sweep_staging` removes the ``_staging-<time_ns>-<uuid>`` directories
under the catalog root that are older than `STAGING_GRACE_NS`, except
one whose ``_old`` holds a replaced directory (a swap cut short, which
may hold the only copy of a partition); that one, and any name that
does not parse, is left for a human to clear.

The partition column for segment tables is ``part_key = bucket of
conv_id × day of start_ms`` — the analogue of the Iceberg spec above:
queries by conversation prune to one bucket, queries by time prune to
a day range, and a re-run of one partition replaces exactly that
partition's files.
"""

from __future__ import annotations

import json
import os
import shutil
import struct
import time
import uuid
import zlib
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.orc as orc
import pyarrow.parquet as pq
from pyspark import TaskContext
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import ByteType, IntegerType, LongType, ShortType

DAY_MS = 86_400_000

#: bytes per checksum of Hadoop's ChecksumFileSystem (`file.bytes-per-checksum`)
_CRC_CHUNK = 512
_INTEGRAL = (ByteType, ShortType, IntegerType, LongType)

#: minimum age before a later write reclaims a ``_staging-*`` directory
#: as a crashed writer's leftover (a live writer commits in seconds; an
#: hour leaves a wide margin for stalled executors)
STAGING_GRACE_NS = 3600 * 10**9


#: the reference's model_type metadata table contents
#: (storage schema: `model_type(mtid INT, name TEXT)`,
#: JDBCStorage.scala:47; mtid 1 is always the fallback,
#: ModelTypeFactory.java:23-26)
MODEL_TYPES: list[tuple[int, str]] = [
    (1, "modelardb_spark.models.uncompressed"),
    (2, "modelardb_spark.models.pmc_mean"),
    (3, "modelardb_spark.models.swing"),
    (4, "modelardb_spark.models.gorilla"),
]


def model_type_table(spark: SparkSession) -> DataFrame:
    """The `model_type` metadata table (mtid -> implementation name).

    Built from an Arrow table, so it plans as a `LocalTableScan`: from
    a list of tuples Spark ships a pickled RDD (`Scan ExistingRDD`)
    and every write of this 4-row table ran a Python-worker job."""
    mtids, names = zip(*MODEL_TYPES)
    table = pa.table({"mtid": pa.array(mtids, pa.int32()), "name": names})
    return spark.createDataFrame(table, "mtid INT, name STRING")


def _crc_sidecar(data) -> bytes:
    """Hadoop ChecksumFileSystem's ``.<file>.crc`` contents for `data`:
    the header ``crc\\0``, int32 bytes-per-checksum, then one big-endian
    CRC32 per 512-byte chunk. Spark's local reads verify every data
    file that has one and raise `ChecksumException` on a mismatch."""
    view = memoryview(data)
    sums = [zlib.crc32(view[i : i + _CRC_CHUNK]) for i in range(0, len(view), _CRC_CHUNK)]
    return b"crc\0" + struct.pack(f">i{len(sums)}I", _CRC_CHUNK, *sums)


def _write_file(directory: str, name: str, table: pa.Table, fmt: str) -> int:
    """Write one data file and its checksum sidecar; returns its bytes.
    Parquet options follow parquet-mr's output (zstd, page index, no
    embedded Arrow schema), which keeps stored bytes within ~2% of it."""
    sink = pa.BufferOutputStream()
    if fmt == "parquet":
        pq.write_table(table, sink, compression="zstd", store_schema=False,
                       write_page_index=True)
    else:
        orc.write_table(table, sink, compression="zstd")
    data = sink.getvalue()
    os.makedirs(directory, exist_ok=True)
    with open(os.path.join(directory, name), "wb") as f:
        f.write(data)
    with open(os.path.join(directory, f".{name}.crc"), "wb") as f:
        f.write(_crc_sidecar(data))
    return data.size


def _by_partition(batch: pa.RecordBatch, partition_by: list[str]):
    """(partition values, rows) pairs of one batch: values in order of
    first appearance, rows in batch order."""
    if not partition_by:
        yield (), batch
        return
    cols = [batch.column(c) for c in partition_by]
    if any(c.null_count for c in cols):
        raise ValueError(f"null value in partition columns {partition_by}")
    keys = np.column_stack([c.to_numpy() for c in cols])
    if (keys == keys[0]).all():
        yield tuple(keys[0].tolist()), batch
        return
    values, first, inverse = np.unique(
        keys, axis=0, return_index=True, return_inverse=True)
    for g in np.argsort(first):
        yield tuple(values[g].tolist()), batch.take(np.flatnonzero(inverse == g))


def write_files(
    df: DataFrame, staging: str, fmt: str, partition_by: list[str]
) -> list[tuple[str, int]]:
    """Write `df` under `staging` in one `mapInArrow` pass: each task
    writes one `fmt` file per partition value (``col=value``
    directories nested in `partition_by` order, partition columns left
    out of the file, rows in frame order) and returns what it wrote.
    Returns the (path relative to `staging`, bytes) of every data file
    of the job's successful task attempts — the only files a commit
    may publish. `staging` must not exist yet; the caller removes it.
    A task holds its rows in memory until it writes. Only integral
    partition columns are supported."""
    if fmt not in ("parquet", "orc"):
        raise ValueError(f"unsupported table format: {fmt!r}")
    for c in partition_by:
        dtype = df.schema[c].dataType
        if not isinstance(dtype, _INTEGRAL):
            raise ValueError(
                f"partition column {c!r} is {dtype.simpleString()}; only"
                " integral partition columns are supported")

    def write(batches):
        groups: dict[tuple, list[pa.RecordBatch]] = {}
        for batch in batches:
            if batch.num_rows:
                for key, rows in _by_partition(batch, partition_by):
                    groups.setdefault(key, []).append(rows)
        if groups and not os.path.isdir(staging):
            # the driver aborted the job and removed staging already
            raise RuntimeError(f"staging directory {staging} is gone")
        name = f"part-{TaskContext.get().partitionId():05d}-{uuid.uuid4().hex}.{fmt}"
        paths, sizes = [], []
        for key, rows in groups.items():
            dirs = [f"{c}={v}" for c, v in zip(partition_by, key)]
            table = pa.Table.from_batches(rows).drop_columns(partition_by)
            sizes.append(_write_file(os.path.join(staging, *dirs), name, table, fmt))
            paths.append("/".join([*dirs, name]))
        yield pa.RecordBatch.from_arrays(
            [pa.array(paths, pa.string()), pa.array(sizes, pa.int64())],
            names=["path", "bytes"])

    os.makedirs(staging)
    return [(r.path, r.bytes) for r in
            df.mapInArrow(write, "path string, bytes long").collect()]


def commit_files(staging: str, table: str, files: list[str], depth: int) -> None:
    """Publish exactly `files` (paths relative to `staging`) and their
    sidecars into the table directory `table`; any other file in
    `staging` stays behind. The files move into a fresh tree, which
    then replaces, by directory renames, each touched partition
    directory: the first `depth` directories of a file's path, with
    everything nested below them (a CQL day swaps with all its token
    buckets), or at depth 0 the whole table. `staging` must be on the
    table's file system; the caller removes it."""
    fresh, old = os.path.join(staging, "_fresh"), os.path.join(staging, "_old")
    os.makedirs(fresh)
    os.makedirs(old)
    for rel in files:
        head, name = os.path.split(rel)
        os.makedirs(os.path.join(fresh, head), exist_ok=True)
        for n in (name, f".{name}.crc"):
            os.rename(os.path.join(staging, head, n), os.path.join(fresh, head, n))
    parts = {"/".join(rel.split("/")[:depth]) for rel in files} if depth else {""}
    for i, part in enumerate(sorted(parts)):
        target = os.path.normpath(os.path.join(table, part))
        if os.path.exists(target):
            os.rename(target, os.path.join(old, str(i)))
        os.makedirs(os.path.dirname(target), exist_ok=True)
        os.rename(os.path.normpath(os.path.join(fresh, part)), target)


def _sweep_staging(root: str) -> None:
    """Reclaim crashed writers' staging directories under the catalog
    `root`, by the rule in the module docstring. The age is read from
    the name, so no stat races a live writer's own cleanup."""
    if not os.path.isdir(root):
        return
    now_ns = time.time_ns()
    for d in os.listdir(root):
        if not d.startswith("_staging-"):
            continue
        try:
            born_ns = int(d.split("-")[1])
        except ValueError:
            continue
        old = os.path.join(root, d, "_old")
        if now_ns - born_ns > STAGING_GRACE_NS and not (
                os.path.isdir(old) and os.listdir(old)):
            shutil.rmtree(os.path.join(root, d), ignore_errors=True)


def with_part_key(df: DataFrame, buckets: int = 32) -> DataFrame:
    """Add the layout columns: conv bucket + day of segment start."""
    return df.withColumn(
        "part_bucket", F.pmod(F.xxhash64("conv_id"), F.lit(buckets)).cast("int")
    ).withColumn("part_day", (F.col("start_ms") / DAY_MS).cast("long"))


@dataclass
class TableCatalog:
    """`fmt` selects the storage format: "parquet" (default) or "orc"
    — the reference treats ORC as a first-class segment backend
    (storage/ORCStorage.scala) alongside Parquet
    (storage/ParquetStorage.scala); both carry the binary model column
    and the partition layout identically."""

    root: str
    fmt: str = "parquet"

    def path(self, name: str) -> str:
        return os.path.join(self.root, name)

    def exists(self, name: str) -> bool:
        return os.path.exists(self.path(name))

    def read(self, spark: SparkSession, name: str) -> DataFrame:
        return spark.read.format(self.fmt).load(self.path(name))

    def overwrite(self, df: DataFrame, name: str, partition_by: list[str] | None = None) -> None:
        """Replace the whole table. An unpartitioned frame without rows
        still leaves a readable table: one empty file with the frame's
        schema, as Spark's writer leaves."""
        self._write(df, name, partition_by or [], whole=True)

    def overwrite_partitions(
        self, df: DataFrame, name: str, partition_by: list[str]
    ) -> None:
        """Dynamic partition overwrite: replaces only the partitions
        present in `df` (Iceberg's per-partition replace semantics;
        idempotent re-runs)."""
        self._write(df, name, partition_by, whole=not partition_by)

    def _layout(self, df: DataFrame, partition_by: list[str]) -> tuple[DataFrame, list[str]]:
        """The frame to write and its directory columns, outermost
        first. A layout may nest more directories below `partition_by`;
        a partition swaps with everything below it."""
        return df, partition_by

    def _write(self, df: DataFrame, name: str, partition_by: list[str], whole: bool) -> None:
        df, columns = self._layout(df, partition_by)
        _sweep_staging(self.root)
        staging = os.path.join(self.root, f"_staging-{time.time_ns()}-{uuid.uuid4().hex}")
        try:
            files = [p for p, _ in write_files(df, staging, self.fmt, columns)]
            if not files and not columns:
                files = [f"part-00000-{uuid.uuid4().hex}.{self.fmt}"]
                _write_file(staging, files[0], to_arrow_schema(df.schema).empty_table(),
                            self.fmt)
            if files or whole:
                commit_files(staging, self.path(name), files,
                             0 if whole else len(partition_by))
        finally:
            shutil.rmtree(staging, ignore_errors=True)

    def drop_partitions(self, name: str, column: str, values: list) -> int:
        """Retention primitive: drop whole partition directories
        (Iceberg analogue: `DELETE WHERE part = v` / expire_snapshots).
        Returns the number of directories removed."""
        dropped = 0
        base = self.path(name)
        for v in values:
            p = os.path.join(base, f"{column}={v}")
            if os.path.exists(p):
                shutil.rmtree(p)
                dropped += 1
        return dropped

    def list_partitions(self, name: str, column: str) -> list[str]:
        base = self.path(name)
        if not os.path.exists(base):
            return []
        out = []
        for d in os.listdir(base):
            if d.startswith(f"{column}="):
                out.append(d.split("=", 1)[1])
        return sorted(out)

    def write_manifest(self, name: str, info: dict) -> None:
        os.makedirs(self.path(name), exist_ok=True)
        info = dict(info, written_at_ms=int(time.time() * 1000))
        with open(os.path.join(self.path(name), "_MANIFEST.json"), "w") as f:
            json.dump(info, f, indent=2, sort_keys=True)

    def read_manifest(self, name: str) -> dict | None:
        p = os.path.join(self.path(name), "_MANIFEST.json")
        if not os.path.exists(p):
            return None
        with open(p) as f:
            return json.load(f)
