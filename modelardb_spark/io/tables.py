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
same pass can write *derived tables*: each maps the rows a task holds
(whole partitions) and the tables derived before it to its own Arrow
rows, which carry the partition values of the rows they come from,
and the task writes each partition's file next to the partition's own
(ingest derives the 1m/1h/1d rollup tiers of its segments this way).
The driver then commits exactly those files (`commit_files`), one
table after another: they move out of a staging directory under the
catalog root into a fresh tree, which replaces each touched partition
directory (or, for `overwrite`, the whole table) by a directory
rename. A failed job, or a failed task attempt's leftovers, never
reaches the table, and the staging directory is removed either way. A
rename that fails mid-commit undoes the table's swaps made so far, so
each of its partitions keeps its old version (tables committed before
it keep their new one). Since the old files stay in place until the
commit, a write may read the table it replaces. Neither Spark's
`DataFrameWriter` nor its Hadoop output committer is involved: a file
costs one Arrow write and a rename for it and for its sidecar, and no
`chmod` process is forked (pip PySpark ships no native Hadoop
library, so Hadoop's local file system forks one per file, sidecar and
directory it creates).

`write_files` writes the data files of every file catalog, and
`TableCatalog._write` commits them for the directory layout, for the
CQL layout (`io/cql.py::CqlCatalog` only adds token bucket directories
below the partition columns and its row order, through `_layout`) and
for stream compaction; the snapshot catalog publishes them through its
manifests instead, and the JDBC catalog, which writes no files, builds
each derived table as a frame (`derived_frame`). Crash leftovers follow
one rule: before each write, `_sweep_staging` removes the
``_staging-<time_ns>-<uuid>`` directories under the catalog root that
are older than `STAGING_GRACE_NS`, except one whose ``_old`` holds a
replaced directory (a swap cut short by a killed process, which may
hold the only copy of a partition); that one, and any name that does
not parse, is left for a human to clear.

The partition column for segment tables is ``part_key = bucket of
conv_id × day of start_ms`` — the analogue of the Iceberg spec above:
queries by conversation prune to one bucket, queries by time prune to
a day range, and a re-run of one partition replaces exactly that
partition's files.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import struct
import time
import uuid
import zlib
from dataclasses import dataclass
from typing import NamedTuple

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.orc as orc
import pyarrow.parquet as pq
from pyspark import TaskContext
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import from_arrow_schema, to_arrow_schema
from pyspark.sql.types import ByteType, IntegerType, LongType, ShortType, StructType

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


def _by_partition(batch: pa.RecordBatch | pa.Table, partition_by: list[str]):
    """(partition values, rows) pairs of a batch or table: values in
    order of first appearance, rows in their order."""
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


class Written(NamedTuple):
    """One data file a write task staged."""

    table: str
    #: partition values, outermost directory first
    values: list
    #: path relative to the table's staging directory
    path: str
    bytes: int
    rows: int
    #: sum of the write's `sum_of` column over the file's rows (0 without)
    total: int


_WRITTEN = pa.schema([
    ("table", pa.string()), ("values", pa.list_(pa.int64())), ("path", pa.string()),
    ("bytes", pa.int64()), ("rows", pa.int64()), ("total", pa.int64())])


def _task_rows(batches) -> pa.Table | None:
    """All rows a task holds, in arrival order; None without rows."""
    parts = [b for b in batches if b.num_rows]
    return pa.Table.from_batches(parts) if parts else None


def _derive(rows: pa.Table, derived: dict, keys: list[str], upto: str | None = None) -> dict:
    """The `derived` tables of a task's `rows`, in order, each function
    given the rows, the tables before it and the partition columns
    `keys`; stops after `upto`."""
    done: dict[str, pa.Table] = {}
    for t, fn in derived.items():
        done[t] = fn(rows, done, keys)
        if t == upto:
            break
    return done


def derived_schemas(schema: StructType, partition_by: list[str], derived: dict) -> dict:
    """The Spark schema of each `derived` table of a frame with
    `schema`: its function's output on no rows."""
    empty = to_arrow_schema(schema).empty_table()
    return {t: from_arrow_schema(table.schema)
            for t, table in _derive(empty, derived, partition_by).items()}


def derived_frame(df: DataFrame, partition_by: list[str], derived: dict, table: str) -> DataFrame:
    """Derived table `table` as a frame, for catalogs that write no
    files: a `mapInArrow` of its function (and the ones before it) over
    each task's rows, repartitioned into whole partitions first."""

    def run(batches):
        rows = _task_rows(batches)
        if rows is not None:
            yield from _derive(rows, derived, partition_by, table)[table].to_batches()

    schema = derived_schemas(df.schema, partition_by, derived)[table]
    return df.repartition(*partition_by).mapInArrow(run, schema)


def write_files(
    df: DataFrame,
    staging: dict[str, str],
    fmt: str,
    partition_by: list[str],
    derived: dict | None = None,
    sum_of: str | None = None,
) -> list[Written]:
    """Write `df` and the tables derived from it in one `mapInArrow`
    pass. `staging` maps the frame's own table and each `derived` table
    to the directory its files go to; no directory may exist yet, and
    the caller removes them.

    Each task writes one `fmt` file per partition value it holds
    (``col=value`` directories nested in `partition_by` order,
    partition columns left out of the files, rows in frame order). A
    derived table comes from all the rows a task holds at once:
    ``derived[t](rows, earlier, keys)`` maps them (partition columns
    included), the tables derived before `t` (name -> Arrow table) and
    the partition column names `keys` to `t`'s Arrow rows, each of
    which must carry the partition values of the rows it comes from;
    they are written by partition the same way. A derived row comes
    from whole partitions only if each task holds whole partitions, so
    repartition the frame by `partition_by` first.

    Returns every file of the job's successful task attempts — the only
    files a commit may publish — with its table, and for the frame's
    own table the sum of its column `sum_of`. A task holds its rows in
    memory until it writes. Only integral partition columns are
    supported."""
    if fmt not in ("parquet", "orc"):
        raise ValueError(f"unsupported table format: {fmt!r}")
    derived = derived or {}
    own = next(t for t in staging if t not in derived)
    for c in partition_by:
        dtype = df.schema[c].dataType
        if not isinstance(dtype, _INTEGRAL):
            raise ValueError(
                f"partition column {c!r} is {dtype.simpleString()}; only"
                " integral partition columns are supported")

    def write(batches):
        rows = _task_rows(batches)
        out: list[tuple] = []
        if rows is not None:
            if not all(os.path.isdir(d) for d in staging.values()):
                # the driver aborted the job and removed staging already
                raise RuntimeError(f"staging directories {sorted(staging.values())} are gone")
            name = f"part-{TaskContext.get().partitionId():05d}-{uuid.uuid4().hex}.{fmt}"
            for t, table in {own: rows, **_derive(rows, derived, partition_by)}.items():
                for key, part in _by_partition(table, partition_by) if table.num_rows else ():
                    dirs = [f"{c}={v}" for c, v in zip(partition_by, key)]
                    total = int(pc.sum(part.column(sum_of)).as_py() or 0) if sum_of and t == own else 0
                    size = _write_file(os.path.join(staging[t], *dirs), name,
                                       part.drop_columns(partition_by), fmt)
                    out.append((t, list(key), "/".join([*dirs, name]), size, part.num_rows, total))
        yield pa.RecordBatch.from_pylist(
            [dict(zip(Written._fields, r)) for r in out], schema=_WRITTEN)

    for d in staging.values():
        os.makedirs(d)
    return [Written(*r) for r in df.mapInArrow(write, from_arrow_schema(_WRITTEN)).collect()]


def partition_totals(written: list[Written], table: str, depth: int) -> dict[tuple, tuple[int, int]]:
    """(rows, total) per partition of `table`: the first `depth`
    partition values of each of its files."""
    out: dict[tuple, tuple[int, int]] = {}
    for w in written:
        if w.table == table:
            key = tuple(w.values[:depth])
            rows, total = out.get(key, (0, 0))
            out[key] = (rows + w.rows, total + w.total)
    return out


def commit_files(staging: str, table: str, files: list[str], depth: int) -> None:
    """Publish exactly `files` (paths relative to `staging`) and their
    sidecars into the table directory `table`; any other file in
    `staging` stays behind. The files move into a fresh tree, which
    then replaces, by directory renames, each touched partition
    directory: the first `depth` directories of a file's path, with
    everything nested below them (a CQL day swaps with all its token
    buckets), or at depth 0 the whole table. `staging` must be on the
    table's file system; the caller removes it unless
    `_holds_replaced(staging)`.

    If a rename fails, the swaps made so far are undone in reverse and
    the error is raised: every touched partition, or the whole table,
    keeps its old version. An undo that fails too leaves the replaced
    directory under ``_old``. After a commit, the replaced directories
    are removed."""
    fresh, old = os.path.join(staging, "_fresh"), os.path.join(staging, "_old")
    os.makedirs(fresh)
    os.makedirs(old)
    for rel in files:
        head, name = os.path.split(rel)
        os.makedirs(os.path.join(fresh, head), exist_ok=True)
        for n in (name, f".{name}.crc"):
            os.rename(os.path.join(staging, head, n), os.path.join(fresh, head, n))
    parts = {"/".join(rel.split("/")[:depth]) for rel in files} if depth else {""}
    table_existed = os.path.exists(table)
    swaps: list[list] = []  # [target, its new tree, its old version or None, swapped]
    try:
        for i, part in enumerate(sorted(parts)):
            target = os.path.normpath(os.path.join(table, part))
            swap = [target, os.path.normpath(os.path.join(fresh, part)), None, False]
            if os.path.exists(target):
                os.rename(target, os.path.join(old, str(i)))
                swap[2] = os.path.join(old, str(i))
            swaps.append(swap)
            os.makedirs(os.path.dirname(target), exist_ok=True)
            os.rename(swap[1], target)
            swap[3] = True
    except BaseException:
        for target, new, replaced, swapped in reversed(swaps):
            if swapped:
                os.rename(target, new)
            if replaced is not None:
                os.rename(replaced, target)
        if not table_existed and os.path.isdir(table) and not os.listdir(table):
            os.rmdir(table)
        raise
    # the replaced versions are garbage now; an ``_old`` that holds one
    # marks a swap cut short
    shutil.rmtree(old)


def _holds_replaced(staging: str) -> bool:
    """Whether a staging directory keeps a replaced directory under an
    ``_old`` (its own, or a table's below it): a swap cut short, which
    may hold the only copy of a partition."""
    base = glob.escape(staging)
    return bool(glob.glob(os.path.join(base, "_old", "*"))
                or glob.glob(os.path.join(base, "*", "_old", "*")))


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
        staging = os.path.join(root, d)
        if now_ns - born_ns > STAGING_GRACE_NS and not _holds_replaced(staging):
            shutil.rmtree(staging, ignore_errors=True)


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
        self,
        df: DataFrame,
        name: str,
        partition_by: list[str],
        derived: dict | None = None,
        sum_of: str | None = None,
    ) -> dict[tuple, tuple[int, int]]:
        """Dynamic partition overwrite: replaces only the partitions
        present in `df` (Iceberg's per-partition replace semantics;
        idempotent re-runs). Each `derived` table (see `write_files`)
        is written in the same pass and replaces the same partitions,
        committed after `name` in order. Returns, per partition of
        `name` (its values), the rows written and their sum of column
        `sum_of`."""
        return self._write(df, name, partition_by, not partition_by, derived or {}, sum_of)

    def _layout(
        self, df: DataFrame, partition_by: list[str], derived: dict
    ) -> tuple[DataFrame, list[str], dict]:
        """The frame to write, its directory columns (outermost first)
        and its derived tables. A layout may nest more directories
        below `partition_by`, which derived tables share; a partition
        swaps with everything below it."""
        return df, partition_by, derived

    def _write(
        self,
        df: DataFrame,
        name: str,
        partition_by: list[str],
        whole: bool,
        derived: dict | None = None,
        sum_of: str | None = None,
    ) -> dict[tuple, tuple[int, int]]:
        df, columns, derived = self._layout(df, partition_by, derived or {})
        _sweep_staging(self.root)
        staging = os.path.join(self.root, f"_staging-{time.time_ns()}-{uuid.uuid4().hex}")
        stages = {t: os.path.join(staging, t) for t in (name, *derived)}
        try:
            written = write_files(df, stages, self.fmt, columns, derived, sum_of)
            if not written and not columns:
                path = f"part-00000-{uuid.uuid4().hex}.{self.fmt}"
                _write_file(stages[name], path, to_arrow_schema(df.schema).empty_table(),
                            self.fmt)
                written = [Written(name, [], path, 0, 0, 0)]
            for t, stage in stages.items():
                files = [w.path for w in written if w.table == t]
                if files or whole:
                    commit_files(stage, self.path(t), files, 0 if whole else len(partition_by))
        finally:
            if not _holds_replaced(staging):
                shutil.rmtree(staging, ignore_errors=True)
        return partition_totals(written, name, len(partition_by))

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
