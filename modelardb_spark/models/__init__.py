"""Pure-NumPy model-based compression layer (no Spark dependency).

Re-expresses the reference's online compression cascade
(/root/reference/src/main/java/dk/aau/modelardb/core/SegmentGenerator.java)
as an offline greedy segmentation over gap-free runs: equivalent output
because every model's `append` fails monotonically, so at emit time each
model covers exactly its maximal prefix of the buffer — which is what we
compute directly, vectorized.
"""

from modelardb_spark.models.errors import (
    outside_percentage_error_bound,
    percentage_error,
)
from modelardb_spark.models.cascade import (
    MTID_GORILLA,
    MTID_PMC,
    MTID_RAW,
    MTID_SWING,
    FittedSegment,
    fit_run,
)
from modelardb_spark.models.segment import decode_values

__all__ = [
    "percentage_error",
    "outside_percentage_error_bound",
    "fit_run",
    "FittedSegment",
    "decode_values",
    "MTID_RAW",
    "MTID_PMC",
    "MTID_SWING",
    "MTID_GORILLA",
]
