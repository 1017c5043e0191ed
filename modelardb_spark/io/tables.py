"""Table catalog: Iceberg-shaped table management.

Production target is Apache Iceberg (`df.writeTo(...).append()`,
snapshot isolation, `rewrite_data_files` compaction, partition specs
like ``bucket(N, conv_id), days(start_ts)``) — the ACID commit +
write-ahead-log machinery the reference hand-rolled for its file
backends (storage/FileStorage.scala:83-233) is exactly what Iceberg
provides natively. This sandbox ships no Iceberg runtime jars, so
`TableCatalog` degrades to the same contract over partitioned parquet
directories with last-writer-wins overwrite per partition — writes go
through `overwrite_partitions`, which is idempotent per partition key,
giving the resume semantics the checkpoint layer needs.

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
import time
from dataclasses import dataclass

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

DAY_MS = 86_400_000


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
        w = df.write.mode("overwrite")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.format(self.fmt).save(self.path(name))

    def overwrite_partitions(
        self, df: DataFrame, name: str, partition_by: list[str]
    ) -> None:
        """Dynamic partition overwrite: replaces only the partitions
        present in `df` (Iceberg's per-partition replace semantics;
        idempotent re-runs)."""
        (
            df.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(*partition_by)
            .format(self.fmt)
            .save(self.path(name))
        )

    def append(self, df: DataFrame, name: str, partition_by: list[str] | None = None) -> None:
        w = df.write.mode("append")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.format(self.fmt).save(self.path(name))

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
