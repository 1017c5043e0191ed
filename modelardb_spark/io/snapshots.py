"""Snapshot catalog: ACID table commits over plain parquet/ORC files.

The reference hand-rolled a write-ahead log + crash recovery for its
file backends (storage/FileStorage.scala:83-233: log-before-write,
recover-on-open, merge-every-N). The production answer on Spark is a
table format with atomic metadata commits (Apache Iceberg); this
sandbox ships no Iceberg runtime jars, so this module implements the
same commit protocol at the scale of our catalog — the Iceberg /
Hadoop-catalog design, not a new invention:

- **Immutable data files.** Every write lands in a fresh
  ``data/commit-<uuid>/`` directory; nothing is ever modified in place.
- **Sharded manifests + manifest list (Iceberg's two-level
  indirection).** Each commit writes one immutable *manifest file*
  (``meta/manifests/m-<uuid>.json``) per partition value it touches,
  holding that partition's data-file entries. The versioned
  ``meta/v{N}.json`` is only the *manifest list*: one row per live
  manifest (path + partition value + counts). Commit cost is therefore
  O(touched partitions + list length), never O(all data files):
  appends add list rows, dynamic partition overwrite and
  ``drop_partitions`` are pure list edits (manifests are
  partition-pure, so replacing a partition = dropping its list rows),
  and untouched manifest files are never opened, let alone rewritten.
  Reads prune at the list level: a partition filter selects list rows
  first and parses only the matching manifests.
- **Atomic commit = one filesystem primitive.** The fully-written
  manifest list is published with ``os.link(tmp, vN)`` — atomic AND
  exclusive (fails with EEXIST if vN exists). There is no window where
  a reader can observe a partial manifest, and two writers can never
  both claim version N. (On HDFS/S3 the same role is played by
  rename-without-overwrite / conditional PUT; the protocol is
  identical.)
- **Optimistic concurrency.** A loser of the version race REBASES: its
  data files AND manifest files are already durable (immutable), so it
  recomputes only the manifest-list delta against the new base and
  retries the link. Appends and overwrites of disjoint partitions from
  concurrent writers both land; overwrites of the same partition
  resolve last-committer-wins — Iceberg's serializable-append /
  last-wins-replace semantics.
- **Schema evolution, checked at commit.** An append/partition
  overwrite must carry every existing column with the same type; NEW
  columns are allowed (additive evolution — old files read as NULL via
  union-by-name), anything else is rejected at commit time with a
  clear error instead of poisoning every later read. `overwrite`
  replaces the schema outright.
- **Snapshot-isolated reads.** Readers resolve the current version
  once and read exactly that manifest list's files — concurrent
  commits never change a running query's input (no directory-listing
  races). Any retained version is readable (time travel).
- **Retention with a grace period.** ``expire_snapshots`` drops old
  manifest lists and garbage-collects data/manifest files no retained
  version references — but, like Iceberg's orphan-file cleanup, it
  skips files younger than ``older_than_s`` so an IN-FLIGHT writer
  (data staged, manifest list not yet linked) never has its commit
  swept out from under it. Expiry is therefore safe to schedule
  concurrently with writers as long as no commit takes longer than the
  grace period.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from modelardb_spark.io.tables import TableCatalog, write_files

_META = "meta"
_DATA = "data"
_MANIFESTS = "manifests"
_CURRENT_HINT = "_current"  # advisory version hint (version-hint.text)

#: default GC grace period (seconds): unreferenced files younger than
#: this are presumed to belong to an in-flight commit and are kept.
#: Iceberg's orphan-file cleanup defaults to 3 days for the same
#: reason; our commits take seconds, so minutes of slack are plenty.
DEFAULT_EXPIRE_GRACE_S = 600.0


class CommitConflict(RuntimeError):
    """Raised internally when another writer claimed the version; the
    public API always rebases and retries, so callers never see it
    unless max_retries is exhausted."""


class SchemaMismatch(ValueError):
    """An append/partition-overwrite tried to change or drop an
    existing column. Additive evolution (new columns) is allowed;
    everything else needs an explicit `overwrite`."""


def _partition_of(relpath: str) -> dict[str, str]:
    """Partition values encoded in a file's directory components
    (``part_day=19752/part-...``) — Spark's own layout encoding."""
    out: dict[str, str] = {}
    for comp in relpath.split("/")[:-1]:
        if "=" in comp:
            k, v = comp.split("=", 1)
            out[k] = v
    return out


def _pkey(partition: dict[str, str]) -> tuple:
    return tuple(sorted(partition.items()))


@dataclass
class SnapshotCatalog:
    """Drop-in for `TableCatalog` (same method surface) with ACID
    commits and snapshot-pinned reads. `fmt` is "parquet" or "orc"."""

    root: str
    fmt: str = "parquet"
    max_retries: int = 20

    # ---------------------------------------------------------------- paths
    def path(self, name: str) -> str:
        return os.path.join(self.root, name)

    def _meta(self, name: str) -> str:
        return os.path.join(self.path(name), _META)

    def _data(self, name: str) -> str:
        return os.path.join(self.path(name), _DATA)

    def _manifest_dir(self, name: str) -> str:
        return os.path.join(self._meta(name), _MANIFESTS)

    def _vfile(self, name: str, version: int) -> str:
        return os.path.join(self._meta(name), f"v{version:08d}.json")

    # ------------------------------------------------------------- versions
    def current_version(self, name: str) -> int:
        """Latest committed version (0 = table does not exist yet).
        The hint file is advisory: probe upward from it so a crashed
        writer that linked a manifest list but not the hint is still
        seen; when the hinted version is missing (stale hint + expired
        snapshots), fall back to listing the meta directory — expiry
        leaves a gap below the retained versions that pure upward
        probing from 0 would misread as an empty table."""
        meta = self._meta(name)
        if not os.path.isdir(meta):
            return 0
        v = 0
        hint = os.path.join(meta, _CURRENT_HINT)
        if os.path.exists(hint):
            try:
                with open(hint) as f:
                    v = int(f.read().strip() or "0")
            except ValueError:
                v = 0
        if not os.path.exists(self._vfile(name, v)):
            versions = [
                int(fn[1:9])
                for fn in os.listdir(meta)
                if fn.startswith("v") and fn.endswith(".json") and fn[1:9].isdigit()
            ]
            v = max(versions, default=0)
        while os.path.exists(self._vfile(name, v + 1)):
            v += 1
        return v

    def exists(self, name: str) -> bool:
        return self.current_version(name) > 0

    def manifest(self, name: str, version: int | None = None) -> dict:
        """The manifest LIST of a version: schema + one row per live
        manifest file ({path, partition, files, bytes}). Data-file
        entries live in the manifest files themselves — see
        `_load_entries`."""
        v = self.current_version(name) if version is None else version
        if v == 0:
            return {"version": 0, "manifests": [], "schema": None}
        with open(self._vfile(name, v)) as f:
            return json.load(f)

    def _load_manifest_file(self, name: str, relpath: str) -> list[dict]:
        with open(os.path.join(self._meta(name), relpath)) as f:
            return json.load(f)["entries"]

    def _load_entries(
        self, name: str, man: dict, manifests: list[dict] | None = None
    ) -> list[dict]:
        """Data-file entries of (a pruned subset of) a manifest list."""
        rows = man["manifests"] if manifests is None else manifests
        out: list[dict] = []
        for m in rows:
            out.extend(self._load_manifest_file(name, m["path"]))
        return out

    # --------------------------------------------------------------- commit
    def _write_files(self, df: DataFrame, name: str, partition_by: list[str] | None):
        """Write one commit's immutable data directory and its
        partition-pure manifest files; returns the new manifest-list
        rows. The data files come from `io.tables.write_files`, which
        lists exactly the files of the job's successful task attempts:
        only those enter a manifest, so cost is O(files written),
        independent of table size. If the job fails, its commit
        directory is removed."""
        commit = f"commit-{uuid.uuid4().hex[:12]}"
        target = os.path.join(self._data(name), commit)
        try:
            written = write_files(df, target, self.fmt, partition_by or [])
        except BaseException:
            shutil.rmtree(target, ignore_errors=True)
            raise
        by_part: dict[tuple, list[dict]] = {}
        for rel, size in written:
            part = _partition_of(rel)
            by_part.setdefault(_pkey(part), []).append(
                {"path": f"{commit}/{rel}", "partition": part, "bytes": size}
            )
        mdir = self._manifest_dir(name)
        os.makedirs(mdir, exist_ok=True)
        rows = []
        for key, entries in sorted(by_part.items()):
            mname = f"m-{uuid.uuid4().hex[:16]}.json"
            tmp = os.path.join(mdir, f".tmp-{mname}")
            with open(tmp, "w") as f:
                json.dump({"entries": entries}, f, sort_keys=True)
                f.flush()
                os.fsync(f.fileno())
            os.replace(tmp, os.path.join(mdir, mname))
            rows.append(
                {
                    "path": f"{_MANIFESTS}/{mname}",
                    "partition": dict(key),
                    "files": len(entries),
                    "bytes": sum(e["bytes"] for e in entries),
                }
            )
        return rows

    def _try_link(self, name: str, version: int, manifest: dict) -> bool:
        """Publish a fully-written manifest list as version `version`.
        os.link is atomic and exclusive: exactly one writer can claim a
        version, and no reader ever sees a partial file."""
        meta = self._meta(name)
        os.makedirs(meta, exist_ok=True)
        tmp = os.path.join(meta, f".tmp-{uuid.uuid4().hex}.json")
        with open(tmp, "w") as f:
            json.dump(manifest, f, sort_keys=True)
            f.flush()
            os.fsync(f.fileno())
        try:
            os.link(tmp, self._vfile(name, version))
        except FileExistsError:
            return False
        finally:
            os.unlink(tmp)
        hint_tmp = os.path.join(meta, f".hint-{uuid.uuid4().hex}")
        with open(hint_tmp, "w") as f:
            f.write(str(version))
        os.replace(hint_tmp, os.path.join(meta, _CURRENT_HINT))  # atomic
        return True

    @staticmethod
    def _check_schema(base_schema_json: str | None, schema: StructType) -> None:
        """Additive-only evolution gate: every existing column must
        survive with the same type; new columns are fine (old files
        read them as NULL). Rejecting here — at commit — is what keeps
        every later read of the table well-defined."""
        if base_schema_json is None:
            return
        base = StructType.fromJson(json.loads(base_schema_json))
        new = {f.name: f.dataType for f in schema.fields}
        problems = [
            f"{f.name}: {f.dataType.simpleString()} -> "
            + (new[f.name].simpleString() if f.name in new else "DROPPED")
            for f in base.fields
            if new.get(f.name) != f.dataType
        ]
        if problems:
            raise SchemaMismatch(
                "append/partition-overwrite may only ADD columns; "
                "changed/dropped: " + "; ".join(problems)
                + " (use overwrite to replace the table schema)"
            )

    def _commit(
        self, name: str, op: str, delta, schema_json: str | None = None,
        check_schema: bool = False,
    ) -> int:
        """Optimistic-concurrency commit loop: apply
        `delta(base_manifest_rows) -> rows` against the current base;
        on a lost race, rebase on the new base and retry (data files
        and manifest files are already durable and immutable — only
        the list is recomputed)."""
        for _ in range(self.max_retries):
            base_v = self.current_version(name)
            base = self.manifest(name, base_v)
            if check_schema:
                self._check_schema(
                    base.get("schema"),
                    StructType.fromJson(json.loads(schema_json)),
                )
            manifest = {
                "version": base_v + 1,
                "parent": base_v,
                "operation": op,
                "manifests": delta(base.get("manifests", [])),
                "schema": schema_json if schema_json is not None else base.get("schema"),
                "ts_ms": int(time.time() * 1000),
            }
            if self._try_link(name, base_v + 1, manifest):
                return base_v + 1
        raise CommitConflict(
            f"{name}: lost the commit race {self.max_retries} times"
        )

    def _commit_write(
        self,
        df: DataFrame,
        name: str,
        op: str,
        partition_by: list[str] | None,
        delta_with,
        check_schema: bool = True,
    ) -> int:
        new_rows = self._write_files(df, name, partition_by)
        return self._commit(
            name,
            op,
            lambda base: delta_with(base, new_rows),
            schema_json=df.schema.json(),
            check_schema=check_schema,
        )

    # ------------------------------------------------- TableCatalog surface
    def overwrite(
        self, df: DataFrame, name: str, partition_by: list[str] | None = None
    ) -> None:
        self._commit_write(
            df, name, "overwrite", partition_by, lambda base, new: new,
            check_schema=False,
        )

    def append(
        self, df: DataFrame, name: str, partition_by: list[str] | None = None
    ) -> None:
        self._commit_write(
            df, name, "append", partition_by, lambda base, new: base + new
        )

    def overwrite_partitions(
        self, df: DataFrame, name: str, partition_by: list[str]
    ) -> None:
        """Dynamic partition overwrite as ONE atomic commit: partitions
        present in `df` are replaced, all others are untouched — and a
        reader never sees the in-between state. Manifests are
        partition-pure, so this is a pure manifest-LIST edit: replaced
        partitions' rows drop off the list, untouched manifests are
        never even opened."""

        def delta(base, new):
            replaced = {_pkey(m["partition"]) for m in new}
            kept = [m for m in base if _pkey(m["partition"]) not in replaced]
            return kept + new

        self._commit_write(df, name, "overwrite_partitions", partition_by, delta)

    def drop_partitions(self, name: str, column: str, values: list) -> int:
        """Metadata-only commit (Iceberg `DELETE WHERE part = v`): no
        data moves, no manifest file is parsed — matching rows drop off
        the manifest list; the files become unreferenced and are
        reclaimed by expire_snapshots."""
        drop = {str(v) for v in values}
        before = self.manifest(name).get("manifests", [])
        hit = {
            str(v)
            for v in drop
            if any(m["partition"].get(column) == str(v) for m in before)
        }
        if not hit:
            return 0

        def delta(base):
            return [m for m in base if m["partition"].get(column) not in drop]

        self._commit(name, "drop_partitions", delta)
        return len(hit)

    def list_partitions(self, name: str, column: str) -> list[str]:
        """Straight off the manifest list — no manifest file parsed."""
        vals = {
            m["partition"][column]
            for m in self.manifest(name).get("manifests", [])
            if column in m["partition"]
        }
        return sorted(vals)

    def read(
        self,
        spark: SparkSession,
        name: str,
        version: int | None = None,
        partition_filter: dict[str, list] | None = None,
    ) -> DataFrame:
        """Snapshot-pinned read: exactly the manifest's files, grouped
        by commit directory so Spark re-derives partition columns from
        each directory layout. `version` time-travels; `partition_filter`
        ({column: [values]}) prunes at the manifest-LIST level — only
        the matching partitions' manifest files are parsed, and only
        their data files are handed to Spark."""
        man = self.manifest(name, version)
        rows = man.get("manifests", [])
        if partition_filter:
            want = {k: {str(v) for v in vs} for k, vs in partition_filter.items()}
            rows = [
                m
                for m in rows
                if all(m["partition"].get(k) in vs for k, vs in want.items())
            ]
        entries = self._load_entries(name, man, rows)
        if not entries:
            if man.get("schema") is None:
                raise FileNotFoundError(f"{name}: no committed snapshot")
            return spark.createDataFrame(
                [], StructType.fromJson(json.loads(man["schema"]))
            )
        by_commit: dict[str, list[str]] = {}
        for e in entries:
            commit = e["path"].split("/", 1)[0]
            by_commit.setdefault(commit, []).append(
                os.path.join(self._data(name), e["path"])
            )
        parts = []
        for commit, files in sorted(by_commit.items()):
            parts.append(
                spark.read.option(
                    "basePath", os.path.join(self._data(name), commit)
                )
                .format(self.fmt)
                .load(files)
            )
        df = parts[0]
        for p in parts[1:]:
            # allowMissingColumns: additive schema evolution — commits
            # from before a column existed read it as NULL
            df = df.unionByName(p, allowMissingColumns=True)
        if man.get("schema") is not None:
            want_cols = [
                f.name
                for f in StructType.fromJson(json.loads(man["schema"])).fields
                if f.name in df.columns
            ]
            extra = [c for c in df.columns if c not in want_cols]
            df = df.select(*want_cols, *extra)
        return df

    # ------------------------------------------------------------ manifests
    def write_manifest(self, name: str, info: dict) -> None:
        """Side-channel table info (snapshot ids etc.), kept API-
        compatible with TableCatalog; stored next to the versioned
        manifests, last-writer-wins via atomic replace."""
        os.makedirs(self._meta(name), exist_ok=True)
        info = dict(info, written_at_ms=int(time.time() * 1000))
        tmp = os.path.join(self._meta(name), f".info-{uuid.uuid4().hex}")
        with open(tmp, "w") as f:
            json.dump(info, f, indent=2, sort_keys=True)
        os.replace(tmp, os.path.join(self._meta(name), "_INFO.json"))

    def read_manifest(self, name: str) -> dict | None:
        p = os.path.join(self._meta(name), "_INFO.json")
        if not os.path.exists(p):
            return None
        with open(p) as f:
            return json.load(f)

    # ----------------------------------------------------------- retention
    def expire_snapshots(
        self,
        name: str,
        keep_last: int = 2,
        older_than_s: float = DEFAULT_EXPIRE_GRACE_S,
    ) -> dict:
        """Drop manifest lists older than the newest `keep_last` and
        garbage-collect data/manifest files no retained version
        references. Readers pinned to an expired version fail on their
        next open — Iceberg's documented contract.

        Writer-safe via the grace period: an in-flight commit has
        staged data + manifest files that nothing references YET;
        `older_than_s` (mtime) skips anything that young, exactly like
        Iceberg's orphan-file cleanup `older_than`. Expiry may run
        concurrently with writers as long as no single commit outlives
        the grace period; pass `older_than_s=0` only when writers are
        known to be quiesced."""
        now = time.time()
        cur = self.current_version(name)
        keep = set(range(max(1, cur - keep_last + 1), cur + 1))
        # an earlier expiry with a smaller keep_last may have removed
        # some of these v-files already — the live-set scan below must
        # only open versions that actually exist, or the maintenance
        # job crashes with FileNotFoundError
        keep = {v for v in keep if os.path.exists(self._vfile(name, v))}
        removed_manifests = 0
        for v in range(1, cur + 1):
            if v not in keep and os.path.exists(self._vfile(name, v)):
                os.unlink(self._vfile(name, v))
                removed_manifests += 1

        def young(path: str) -> bool:
            try:
                return now - os.path.getmtime(path) < older_than_s
            except OSError:
                return True  # vanished/unstatable: leave it alone

        live_manifests: set[str] = set()
        live_data: set[str] = set()
        for v in keep:
            man = self.manifest(name, v)
            for m in man.get("manifests", []):
                live_manifests.add(
                    os.path.normpath(os.path.join(self._meta(name), m["path"]))
                )
            for e in self._load_entries(name, man):
                # a live file's checksum sidecar is live too: without it
                # Spark reads the file unverified
                head, tail = os.path.split(
                    os.path.normpath(os.path.join(self._data(name), e["path"])))
                live_data.update(
                    (os.path.join(head, tail), os.path.join(head, f".{tail}.crc")))
        removed_files = 0
        for base_dir, live in (
            (self._data(name), live_data),
            (self._manifest_dir(name), live_manifests),
        ):
            if not os.path.isdir(base_dir):
                continue
            # snapshot every dir's age BEFORE the sweep deletes
            # anything: unlinking a file (or rmdir'ing a child, walked
            # first because topdown=False) bumps the parent's mtime,
            # which would make freshly-emptied dirs look "young"
            # forever — one vacuum per nesting level per grace period
            dir_was_young = {
                dirpath: young(dirpath)
                for dirpath, _d, _f in os.walk(base_dir)
            }
            for dirpath, _dirs, files in os.walk(base_dir, topdown=False):
                for fn in files:
                    full = os.path.normpath(os.path.join(dirpath, fn))
                    if full not in live and not young(full):
                        os.unlink(full)
                        removed_files += 1
                # directory cleanup gets the SAME writer-safety the
                # files get: a just-created (young) commit dir of an
                # in-flight writer is momentarily empty — leave it; and
                # the empty-check-then-rmdir race (writer adds a file
                # in between) must not crash the sweep
                if (
                    dirpath != base_dir
                    and not dir_was_young.get(dirpath, True)
                    and not os.listdir(dirpath)
                ):
                    try:
                        os.rmdir(dirpath)
                    except OSError:
                        pass  # no longer empty or already gone
        return {"manifests": removed_manifests, "data_files": removed_files}

    def rewrite_data_files(
        self, spark: SparkSession, name: str, partition_by: list[str]
    ) -> int:
        """Compaction (Iceberg rewrite_data_files): rewrite the current
        snapshot as one file per partition in ONE commit; concurrent
        appends that land first win the race and this rewrite rebases —
        but to keep the semantics trivially safe it re-reads and fully
        replaces, so run it from the maintenance path like Iceberg's
        procedure."""
        df = self.read(spark, name).repartition(*partition_by)
        self.overwrite(df, name, partition_by)
        return self.current_version(name)


def make_catalog(root: str, fmt: str = "parquet", kind: str = "dir"):
    """Catalog factory: "dir" = TableCatalog (partition-dir layout),
    "snapshot" = SnapshotCatalog (ACID manifest commits), "jdbc" =
    JdbcCatalog (RDBMS backend, JDBCStorage.scala parity), "cql" =
    CqlCatalog (Cassandra layout: token-bucketed partition key +
    clustering order, CassandraStorage.scala parity)."""
    if kind == "snapshot":
        return SnapshotCatalog(root, fmt)
    if kind == "jdbc":
        from modelardb_spark.io.jdbc import JdbcCatalog

        return JdbcCatalog(root)
    if kind == "cql":
        from modelardb_spark.io.cql import CqlCatalog

        return CqlCatalog(root, fmt)
    if kind != "dir":
        raise ValueError(f"unknown catalog kind: {kind}")
    return TableCatalog(root, fmt)
