"""JDBC segment catalog — parity with the reference's RDBMS backend
(storage/JDBCStorage.scala:47-60: segment + metadata tables in any
JDBC database, with a secondary index on the segment time columns).

Same method surface as `TableCatalog`/`SnapshotCatalog`, so the ingest
and transfer jobs run on it unchanged. Data moves through Spark's JDBC
source/sink (executor-parallel, batched inserts, predicate pushdown of
partition filters into SQL); only tiny control statements (DELETE of a
partition, DISTINCT partition listing, index DDL, manifest upsert) run
on a driver-side connection.

The in-sandbox database is embedded Apache Derby (shipped with Spark);
the catalog is URL-parameterized, so a production deployment points the
same code at a networked PostgreSQL/MySQL URL — embedded Derby lives in
one JVM and is only suitable for local mode, exactly like the
reference's H2/SQLite-style single-node JDBC backends.

Crash-safety: `overwrite_partitions` stages the incoming rows in a
side table via the executor-parallel JDBC writer, then swaps them in
with a SINGLE driver-side transaction (DELETE old partitions +
``INSERT ... SELECT`` from the staging table, one commit) — a crash at
any point leaves the target table either fully old or fully new for
the touched partitions. The staging table itself is scratch and is
recreated on the next run. Multi-statement snapshot-level atomicity
across tables remains the snapshot catalog's job (io/snapshots.py).
"""

from __future__ import annotations

import json
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from modelardb_spark.io.tables import derived_frame


#: SQLStates meaning "object already exists" — the only DDL failure an
#: idempotent CREATE may swallow. Derby: X0Y32; PostgreSQL: 42P07
#: (duplicate_table) / 42710 (duplicate_object); MySQL/standard: 42S01.
DDL_EXISTS_SQLSTATES = frozenset({"X0Y32", "42P07", "42710", "42S01"})


def _q(ident: str) -> str:
    """Quote a column identifier the way Spark's JDBC writer created it
    (Derby folds unquoted identifiers to upper case; Spark quotes)."""
    return '"' + ident.replace('"', '""') + '"'


def _sql_lit(v) -> str:
    if isinstance(v, (int, float)):
        return str(v)
    return "'" + str(v).replace("'", "''") + "'"


@dataclass
class JdbcCatalog:
    """`root` is either a Derby database directory or a full ``jdbc:``
    URL. `fmt` is accepted for factory-surface compatibility and
    ignored (the wire format is the database's)."""

    root: str
    fmt: str = "jdbc"

    #: secondary index over the segment time range, the reference's
    #: JDBCStorage.scala:51-53 DDL (gid, start_time, end_time analogue)
    SEGMENT_INDEX_COLS = ("conv_id", "start_ms", "end_ms")

    @property
    def url(self) -> str:
        if self.root.startswith("jdbc:"):
            return self.root
        return f"jdbc:derby:{self.root};create=true"

    # ------------------------------------------------------------ plumbing
    def _conn(self):
        spark = SparkSession.getActiveSession()
        if spark is None:
            raise RuntimeError("JdbcCatalog needs an active SparkSession")
        return spark._jvm.java.sql.DriverManager.getConnection(self.url)

    def _execute(self, *stmts: str) -> list:
        conn = self._conn()
        try:
            st = conn.createStatement()
            out = []
            for s in stmts:
                out.append(st.executeUpdate(s))
            st.close()
            return out
        finally:
            conn.close()

    def _execute_txn(self, *stmts: str) -> list:
        """Run all statements in ONE transaction on one connection:
        either every statement commits or none does (crash/error ->
        rollback). This is what makes partition overwrite atomic."""
        conn = self._conn()
        try:
            conn.setAutoCommit(False)
            try:
                st = conn.createStatement()
                out = [st.executeUpdate(s) for s in stmts]
                st.close()
                conn.commit()
                return out
            except Exception:
                conn.rollback()
                raise
        finally:
            conn.close()

    def _query(self, sql: str) -> list[tuple]:
        conn = self._conn()
        try:
            st = conn.createStatement()
            rs = st.executeQuery(sql)
            ncols = rs.getMetaData().getColumnCount()
            rows = []
            while rs.next():
                rows.append(tuple(rs.getString(i + 1) for i in range(ncols)))
            st.close()
            return rows
        finally:
            conn.close()

    def path(self, name: str) -> str:  # surface compat (logging etc.)
        return f"{self.url}#{name}"

    def exists(self, name: str) -> bool:
        conn = self._conn()
        try:
            rs = conn.getMetaData().getTables(None, None, name.upper(), None)
            found = rs.next()
            rs.close()
            return bool(found)
        finally:
            conn.close()

    # ------------------------------------------------------------- surface
    def read(self, spark: SparkSession, name: str) -> DataFrame:
        return (
            spark.read.format("jdbc")
            .option("url", self.url)
            .option("dbtable", name)
            .option("fetchsize", "10000")
            .load()
        )

    #: id-like KEY columns get VARCHAR instead of Spark's default CLOB
    #: mapping: Derby cannot index or efficiently compare long types,
    #: and the reference's schema uses plain SQL strings for these
    #: (JDBCStorage.scala:47-53). Only never-null key columns belong
    #: here — Spark's writer emits setNull(CLOB) for null strings,
    #: which Derby rejects against a VARCHAR column (ERROR 22005).
    #: Nullable payload strings (text, role, tool) stay CLOB.
    VARCHAR_COLS = {"conv_id": 255, "metric": 128, "name": 255, "member": 255}

    def _write(self, df: DataFrame, name: str) -> None:
        w = (
            df.write.format("jdbc")
            .option("url", self.url)
            .option("dbtable", name)
            .option("batchsize", "10000")
        )
        col_types = ", ".join(
            f"{c} VARCHAR({n})"
            for c, n in self.VARCHAR_COLS.items()
            if c in df.columns and dict(df.dtypes)[c] == "string"
        )
        if col_types:
            w = w.option("createTableColumnTypes", col_types)
        w.mode("overwrite").save()

    @staticmethod
    def _sqlstate(exc: Exception) -> str | None:
        """SQLState of a py4j-wrapped java.sql.SQLException (walking the
        cause chain), or None if the error is not an SQLException."""
        j = getattr(exc, "java_exception", None)
        while j is not None:
            get_state = getattr(j, "getSQLState", None)
            if get_state is not None:
                try:
                    state = get_state()
                except Exception:
                    state = None
                if state:
                    return str(state)
            j = j.getCause() if hasattr(j, "getCause") else None
        return None

    def _ensure_index(self, name: str, df: DataFrame) -> None:
        if not all(c in df.columns for c in self.SEGMENT_INDEX_COLS):
            return
        cols = ", ".join(_q(c) for c in self.SEGMENT_INDEX_COLS)
        try:
            self._execute(f"CREATE INDEX {name}_time_idx ON {name} ({cols})")
        except Exception as e:
            # idempotent ONLY for "object already exists" (per-backend
            # SQLStates); a genuinely failed DDL — bad identifier,
            # permissions, connection error — must surface, or the
            # JDBCStorage-parity secondary time index silently never
            # exists
            if self._sqlstate(e) not in DDL_EXISTS_SQLSTATES:
                raise

    def overwrite(
        self, df: DataFrame, name: str, partition_by: list[str] | None = None
    ) -> None:
        self._write(df, name)
        self._ensure_index(name, df)

    def overwrite_partitions(
        self,
        df: DataFrame,
        name: str,
        partition_by: list[str],
        derived: dict | None = None,
        sum_of: str | None = None,
    ) -> dict[tuple, tuple[int, int]]:
        """Atomic dynamic partition overwrite of `name`, then of each
        `derived` table (see `io.tables.write_files`); this catalog
        writes no files, so a derived table is built as its own frame
        (`io.tables.derived_frame`) over the persisted `df`. Returns
        `TableCatalog.overwrite_partitions`' totals, counted by the
        database."""
        if len(partition_by) != 1:
            raise NotImplementedError("JdbcCatalog: single partition column")
        if not derived:
            return self._replace_partitions(df, name, partition_by[0], sum_of)
        df = df.persist()
        try:
            totals = self._replace_partitions(df, name, partition_by[0], sum_of)
            for t in derived:
                self._replace_partitions(
                    derived_frame(df, partition_by, derived, t), t, partition_by[0])
            return totals
        finally:
            df.unpersist()

    def _totals(self, table: str, col: str, sum_of: str | None) -> dict[tuple, tuple[int, int]]:
        total = f"SUM({_q(sum_of)})" if sum_of else "0"
        return {
            (int(v),): (int(rows), int(s or 0))
            for v, rows, s in self._query(
                f"SELECT {_q(col)}, COUNT(*), {total} FROM {table} GROUP BY {_q(col)}")
        }

    def _replace_partitions(
        self, df: DataFrame, name: str, col: str, sum_of: str | None = None
    ) -> dict[tuple, tuple[int, int]]:
        """Stage the incoming rows in `{name}_stage` (executor-parallel
        JDBC write, scratch data — a crash here touches nothing), then
        swap them in with ONE driver-side transaction: DELETE the
        partitions present in the staging table + ``INSERT ... SELECT``
        + commit. Readers and a crash at any point see either the old
        or the new partition content, never an empty window."""
        if not self.exists(name):
            self.overwrite(df, name, [col])
            return self._totals(name, col, sum_of)
        # writer-unique staging name: two concurrent writers of the
        # same table (ingest + transfer on disjoint days) must never
        # share a stage, or one transaction swaps in the other's rows
        import os as _os
        import time as _time

        # sweep stages orphaned by CRASHED writers (a hard kill skips
        # the finally-DROP below and a unique name is never reused, so
        # leaked stages would otherwise accrete forever): the embedded
        # backends are single-host, so a stage whose embedded pid is
        # no longer alive belongs to no one. A live concurrent
        # writer's stage is untouched by construction.
        try:
            leftovers = self._query(
                "SELECT tablename FROM sys.systables WHERE tablename LIKE "
                f"'{name.upper()}_STAGE_%'"
            )
        except Exception:
            leftovers = []  # non-Derby catalog dialect: skip the sweep
        for (tname,) in leftovers:
            try:
                pid = int(tname.rsplit("_", 2)[-2])
                _os.kill(pid, 0)  # raises if the owner is gone
            except (ValueError, IndexError):
                pass  # unparseable name: leave it for a human
            except PermissionError:
                pass  # EPERM: the pid EXISTS under another uid — a
                #       live writer on a multi-user host; leave it
            except ProcessLookupError:
                try:
                    self._execute(f'DROP TABLE "{tname}"')
                except Exception:
                    pass  # concurrent sweeper got it first

        stage = f"{name}_stage_{_os.getpid()}_{_time.time_ns() % 10**12}"
        self._write(df, stage)
        try:
            totals = self._totals(stage, col, sum_of)
            cols = ", ".join(_q(c) for c in df.columns)
            # the DELETE keys off the staging table itself
            # (IN-subquery): type-correct for any partition column type
            # and no driver-side value list to build
            self._execute_txn(
                f"DELETE FROM {name} WHERE {_q(col)} IN "
                f"(SELECT DISTINCT {_q(col)} FROM {stage})",
                f"INSERT INTO {name} ({cols}) SELECT {cols} FROM {stage}",
            )
            return totals
        finally:
            try:
                self._execute(f"DROP TABLE {stage}")
            except Exception:
                pass  # a hard crash leaks the stage; the dead-writer
                # sweep above reclaims it on the next overwrite

    def drop_partitions(self, name: str, column: str, values: list) -> int:
        if not self.exists(name) or not values:
            return 0
        existing = set(self.list_partitions(name, column))
        hit = sum(1 for v in values if str(v) in existing)
        in_list = ", ".join(_sql_lit(v) for v in values)
        self._execute(f"DELETE FROM {name} WHERE {_q(column)} IN ({in_list})")
        return hit

    def list_partitions(self, name: str, column: str) -> list[str]:
        if not self.exists(name):
            return []
        rows = self._query(f"SELECT DISTINCT {_q(column)} FROM {name}")
        return sorted(r[0] for r in rows)

    # ----------------------------------------------------------- manifests
    def _ensure_manifest_table(self) -> None:
        if not self.exists("catalog_manifests"):
            try:
                self._execute(
                    "CREATE TABLE catalog_manifests "
                    '("name" VARCHAR(256) PRIMARY KEY, "info" CLOB)'
                )
            except Exception as e:
                if self._sqlstate(e) not in DDL_EXISTS_SQLSTATES:
                    raise  # only "already exists" (concurrent creator) is benign

    def write_manifest(self, name: str, info: dict) -> None:
        import time

        self._ensure_manifest_table()
        info = dict(info, written_at_ms=int(time.time() * 1000))
        payload = json.dumps(info, sort_keys=True)
        self._execute(
            f"DELETE FROM catalog_manifests WHERE \"name\" = {_sql_lit(name)}"
        )
        self._execute(
            'INSERT INTO catalog_manifests ("name", "info") VALUES '
            f"({_sql_lit(name)}, {_sql_lit(payload)})"
        )

    def read_manifest(self, name: str) -> dict | None:
        if not self.exists("catalog_manifests"):
            return None
        rows = self._query(
            f"SELECT \"info\" FROM catalog_manifests WHERE \"name\" = {_sql_lit(name)}"
        )
        return json.loads(rows[0][0]) if rows else None
