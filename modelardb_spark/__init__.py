"""modelardb_spark — a PySpark-native model-based time-series rollup,
downsample, and retention engine in the spirit of ModelarDB.

Built from scratch on the Spark DataFrame API + vectorized pandas/Arrow
UDFs. The reference system (skejserjensen/ModelarDB, JVM) tells us WHAT
to compute — the model-based compression semantics, the two-view query
surface, the aggregate-on-model trick — while the HOW here is idiomatic
Spark: declarative plans, Catalyst pushdown, `applyInPandas` for the one
genuinely custom operator (the model-fitting cascade).

Layout:
  models/     pure-NumPy compression models (no Spark dependency)
  operators/  DataFrame-level operators (derive series, gap-fill, fit,
              grid, rollup, retention, dedup, similarity, text stats)
  io/         table catalog (Iceberg-shaped; partitioned parquet in the
              sandbox) + per-partition checkpoint/lineage/metrics
  jobs/       spark-submit entry points (ingest pipeline, resumable)
"""

from modelardb_spark import zipstamp
from modelardb_spark.config import EngineConfig

# every engine UDF imports the package when a worker unpickles it, so
# from then on that worker's per-task import-cache invalidation skips
# re-reading unchanged zip archives (pyspark.zip, --py-files)
zipstamp.install()

__all__ = ["EngineConfig"]
__version__ = "0.1.0"
