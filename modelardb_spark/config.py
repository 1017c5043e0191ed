"""Engine configuration.

Mirrors the knobs of the reference system's `modelardb.conf`
(/root/reference/modelardb.conf:55-102, defaults in
core/Configuration.java:153-179) where they still make sense for a
Spark-first engine, plus Spark-specific layout knobs.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class EngineConfig:
    # --- model-fitting knobs (reference parity) -------------------------
    #: relative percentage error bound; 0 = lossless
    #: (reference: modelardb.error_bound, default 0)
    error_bound: float = 0.0
    #: max points per Gorilla/raw segment
    #: (reference: modelardb.length_bound, default 50)
    length_bound: int = 50
    #: bin width of the derived series in ms. The reference calls this the
    #: sampling interval (SI); ours is fixed at 1 minute per the data model.
    interval_ms: int = 60_000

    # --- series derivation ----------------------------------------------
    #: gaps of at most this many missing bins can be zero-filled by the
    #: explicit gap_fill operator; longer idle periods split segments
    #: (reference gap protocol, SegmentGenerator.java:131-148)
    max_fill_bins: int = 0

    # --- scale / layout knobs -------------------------------------------
    #: a (conv_id, metric) series is split into independent fit units of at
    #: most this many calendar days, bounding task size for skewed long
    #: conversations (explicit salting; reference analogue: dynamic group
    #: split, SegmentGenerator.java:296-351, repurposed for load balance)
    salt_days: int = 1
    #: number of shuffle partitions for fit jobs; None = leave session value
    shuffle_partitions: int | None = None
    #: bucket count used when laying out the segments table by conv_id
    conv_buckets: int = 32


DEFAULT_CONFIG = EngineConfig()
