"""Multi-series GROUP compression: one model row covering N correlated
series (the reference's defining mechanism).

Reference semantics re-expressed Spark-first:

- A *group* is a set of time series sharing one sampling-interval grid
  (core/TimeSeriesGroup.java). Here the natural group is a
  conversation: its metrics (turn_rate, tool_usage, ...) are defined on
  exactly the same 1-minute bins.
- At each timestamp the group emits one value per member series; the
  model compresses the row-major interleaved stream
  (t0,s0),(t0,s1),(t1,s0),(t1,s1),... — one segment row then covers
  N series (one 24-byte metadata record instead of N; measured ~1.9x
  stored-bytes win on the transcripts workload, see
  tests/test_groupfit.py::test_group_compression_beats_per_series).
- *Gaps*: when a member series has no value at the current grid of
  timestamps, the reference flushes and records the absent tids on the
  following segments (TimeSeriesGroup.java:153-176 emits NaN for the
  gapped member; SegmentGenerator flushes on activity change). Here
  every group fit, whichever clause formed the group, feeds one
  representation: a (rows, K) float32 member matrix, one row per bin,
  with NaN for an absent member, and each row's group size. One run
  splitter (`_fit_member_runs`) cuts it wherever the active-member set
  changes, and each group segment stores `gaps` = the ABSENT tids
  (SegmentGroup offsets protocol, core/SegmentGroup.java:51-111).
- *Explode*: at query time each group segment fans out to one logical
  segment per present tid (SegmentGroup.explode, :51-111) carrying
  (group_offset, group_size) so the decoder strides the interleaved
  payload. Implemented as a JVM-side posexplode; the members then run
  through the same point and partials kernels as per-series segments:
  `grid(explode_group_segments(g))` reconstructs points and
  `rollup_from_segments(explode_group_segments(g), w, interval_ms)`
  rolls up, map-only at the fit interval like per-series segments.

Model cascade for groups — the reference's any-model-on-group-stream
contract (core/SegmentGenerator.java:154-167 iterates every configured
model type over the interleaved DataPoint stream): each run of a fixed
active-member set goes through the one cascade (`_fit_group_run`,
the `models.cascade.fit_run` loop of `fit_segment` calls, with the
optional ratio-feedback dynamic split) on its (T, N) matrix of present
members. PMC-Mean's shared constant must satisfy the bound for every
member's value at every timestamp; Swing fits one shared line
(`models.swing.swing_fit`:
the N same-timestamp appends constrain it to the interval
[max_i(v_i - dev_i), min_i(v_i + dev_i)] at each timestamp); Gorilla
runs over the interleaved stream; raw is the fallback. Selection uses
the reference fold and ratio formula INCLUDING the 4-bytes-per-gap-entry
term (ModelType.java:49-54). Single-timestamp runs, where the fold
always picks Gorilla, emit in bulk through `_single_ts_rows`.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from modelardb_spark.config import DEFAULT_CONFIG, EngineConfig
from modelardb_spark.models.cascade import (
    MTID_GORILLA,
    FittedSegment,
    fit_segment,
)
from modelardb_spark.models.errors import outside_bound_vec
from modelardb_spark.models.gorilla import gorilla_compress_rows
from modelardb_spark.operators.fit import fit_arranged
from modelardb_spark.operators.grid import grid
from modelardb_spark.operators.rollup import merge_partials, window_partials
from modelardb_spark.operators.series import METRICS

GROUP_SEGMENT_SCHEMA = StructType(
    [
        StructField("conv_id", StringType(), False),
        StructField("start_ms", LongType(), False),
        StructField("end_ms", LongType(), False),
        StructField("interval_ms", LongType(), False),
        StructField("mtid", IntegerType(), False),
        StructField("model", BinaryType(), False),
        # total stored values = timestamps x group_size
        StructField("n", LongType(), False),
        StructField("group_size", IntegerType(), False),
        # present member tids in storage (interleave) order
        StructField("tids", ArrayType(IntegerType(), False), False),
        # ABSENT member tids — the reference's gaps-as-offsets protocol
        StructField("gaps", ArrayType(IntegerType(), False), False),
        # per-present-tid closed-form aggregates, in `tids` order
        StructField("seg_cnt", ArrayType(LongType(), False), False),
        StructField("seg_min", ArrayType(FloatType(), False), False),
        StructField("seg_max", ArrayType(FloatType(), False), False),
        StructField("seg_sum", ArrayType(DoubleType(), False), False),
        StructField("p0", DoubleType(), True),
        StructField("p1", DoubleType(), True),
    ]
)

_GCOLS = [f.name for f in GROUP_SEGMENT_SCHEMA.fields]


def _append_segment(
    out: dict[str, list],
    conv: str,
    seg: FittedSegment,
    tids: list[int],
    gaps: list[int],
    interval_ms: int,
) -> None:
    """Append one fitted group segment as a GROUP_SEGMENT_SCHEMA row."""
    n_mem = len(tids)
    out["conv_id"].append(conv)
    out["start_ms"].append(seg.start_ms)
    out["end_ms"].append(seg.end_ms)
    out["interval_ms"].append(interval_ms)
    out["mtid"].append(seg.mtid)
    out["model"].append(seg.model)
    out["n"].append(seg.n)
    out["group_size"].append(n_mem)
    out["tids"].append(list(tids))
    out["gaps"].append(gaps)
    out["seg_cnt"].append([seg.n // n_mem] * n_mem)
    out["seg_min"].append(seg.mins.tolist())
    out["seg_max"].append(seg.maxs.tolist())
    out["seg_sum"].append(seg.sums.tolist())
    out["p0"].append(seg.p0)
    out["p1"].append(seg.p1)


def _single_ts_rows(
    key: np.ndarray,
    ts: np.ndarray,
    vals: np.ndarray,
    tids: np.ndarray,
    gsize: np.ndarray,
    interval_ms: int,
) -> pd.DataFrame:
    """GROUP rows for single-timestamp runs of k present members each:
    `vals` and `tids` are (m, k), `gsize` is each group's full member
    count. The reference fold always selects Gorilla for a 1-timestamp
    run (Swing needs 2 timestamps, and its NaN ratio hands the fold on
    to Gorilla, whose length is k), so every row is closed-form and the
    models encode in lockstep (`gorilla_compress_rows`), byte-identical
    to `fit_segment` on each run."""
    m, k = vals.shape
    tid_rows = tids.tolist()
    if (gsize == k).all():
        gaps: list[list[int]] = [[]] * m
    else:
        cache: dict[tuple[int, ...], list[int]] = {}
        gaps = []
        for row, g in zip(tid_rows, gsize.tolist()):
            ck = (g, *row)
            gp = cache.get(ck)
            if gp is None:
                gp = cache[ck] = [t for t in range(g) if t not in row]
            gaps.append(gp)
    vlist = vals.tolist()
    return pd.DataFrame(
        {
            "conv_id": key,
            "start_ms": ts,
            "end_ms": ts,
            "interval_ms": np.full(m, interval_ms, dtype=np.int64),
            "mtid": np.full(m, MTID_GORILLA, dtype=np.int32),
            "model": gorilla_compress_rows(vals),
            "n": np.full(m, k, dtype=np.int64),
            "group_size": np.full(m, k, dtype=np.int32),
            "tids": tid_rows,
            "gaps": gaps,
            "seg_cnt": [[1] * k] * m,
            "seg_min": vlist,
            "seg_max": vlist,
            "seg_sum": vals.astype(np.float64).tolist(),
            "p0": np.full(m, np.nan),
            "p1": np.full(m, np.nan),
        },
        columns=_GCOLS,
    )


def _split_subsets(
    window: np.ndarray, idx: list[int], error_bound: float
) -> list[list[int]]:
    """Partition present-member COLUMN indexes into subsets mutually
    within DOUBLE the error bound over every row of `window` (a (W, N)
    value block) — the reference's split rule compares the members'
    BUFFERED data points pairwise at the doubled bound
    (SegmentGenerator.java:296-351, `withinErrorBound(2 * errorBound,
    buffer...)`) with the same greedy leader scan."""
    remaining = list(idx)
    subsets: list[list[int]] = []
    while remaining:
        lead = remaining[0]
        sub = [
            j
            for j in remaining
            if not outside_bound_vec(
                2.0 * error_bound,
                np.ascontiguousarray(window[:, j], dtype=np.float32),
                np.ascontiguousarray(window[:, lead], dtype=np.float32),
            ).any()
        ]
        subsets.append(sub)
        remaining = [j for j in remaining if j not in sub]
    return subsets


#: reference default for modelardb.dynamic_split_fraction: split when a
#: finalized segment compresses below 10% of the group's running
#: average ratio (modelardb.conf:79, SegmentGenerator.java:290)
DYNAMIC_SPLIT_FRACTION = 0.10

#: initial rejoin back-off in timestamps; doubles per failed attempt —
#: the analogue of the reference doubling
#: finalizedSegmentsBeforeNextJoinCheck between join probes
#: (SegmentGenerator.java:263-267)
_REJOIN_BACKOFF_TS = 4

#: decision-buffer length for split/rejoin correlation checks (the
#: reference compares the members' buffered points; a batch engine has
#: no live buffer, so a bounded lookahead window stands in)
_DECISION_WINDOW_TS = 16


def _fit_group_run(
    key: str,
    ts: np.ndarray,
    vals2d: np.ndarray,
    tids: list[int],
    gsize: int,
    error_bound: float,
    length_bound: int,
    interval_ms: int,
    out: dict[str, list],
    split_fraction: float | None = None,
) -> None:
    """Cascade over one gap-free run of a fixed active-member set:
    `vals2d` is a C-contiguous (T, N) float32 matrix of the present
    members `tids` of a group of `gsize` members, and `fit_segment`
    fits one segment at a time from the front of the run, as `fit_run`
    does.

    With `split_fraction` set, the run takes the reference's
    ratio-FEEDBACK dynamic split/join (SegmentGenerator.java:296-351,
    :403-455): keep a running average of the group's finalized-segment
    compression ratios; when a segment's ratio falls below
    `split_fraction x` that average, split the group into subsets
    mutually within 2x the error bound and fit them separately (each a
    static run of its own); attempt a rejoin after an exponentially
    backed-off number of timestamps, rejoining when the members' values
    are again mutually within the doubled bound. Unlike the
    correlation router (input-driven), this adapts to what actually
    compressed badly. At bound 0 both cascades reconstruct exactly, so
    the trigger only moves stored bytes."""
    n_ts, n_mem = vals2d.shape
    gaps = [t for t in range(gsize) if t not in tids]
    gap_bytes = 4.0 * len(gaps)
    max_vals = max(n_mem, (length_bound // n_mem) * n_mem)
    ratios: list[float] = []
    pos = 0
    while pos < n_ts:
        seg = fit_segment(ts[pos:], vals2d[pos:], error_bound, max_vals, gap_bytes)
        _append_segment(out, key, seg, tids, gaps, interval_ms)
        pos += seg.n // n_mem
        if split_fraction is None or n_mem == 1 or pos >= n_ts:
            continue
        # the stored ratio (ModelType.java:49-54) feeds the split trigger
        ratio = (16.0 * seg.n) / (24.0 + len(seg.model) + gap_bytes)
        trigger = bool(ratios) and ratio < split_fraction * (
            sum(ratios) / len(ratios)
        )
        ratios.append(ratio)
        if not trigger:
            continue
        all_idx = list(range(n_mem))
        subsets = _split_subsets(
            vals2d[pos : pos + _DECISION_WINDOW_TS], all_idx, error_bound
        )
        if len(subsets) < 2:
            continue
        # SPLIT: fit each subset separately, probing a rejoin at
        # exponentially backed-off checkpoints; every episode starts
        # from the base interval (SegmentGenerator.java:403-455 restarts
        # the probe interval after every successful rejoin)
        backoff = _REJOIN_BACKOFF_TS
        while pos < n_ts:
            upto = min(pos + backoff, n_ts)
            for sub in subsets:
                _fit_group_run(
                    key,
                    ts[pos:upto],
                    vals2d[pos:upto, sub],
                    [tids[j] for j in sub],
                    gsize,
                    error_bound,
                    length_bound,
                    interval_ms,
                    out,
                )
            pos = upto
            if pos >= n_ts:
                break
            probe = vals2d[pos : pos + _DECISION_WINDOW_TS]
            if len(_split_subsets(probe, all_idx, error_bound)) == 1:
                break  # rejoin: values mutually within the bound again
            backoff *= 2


def _fit_member_runs(
    key: np.ndarray,
    salt: np.ndarray,
    ts: np.ndarray,
    vals: np.ndarray,
    gsize: np.ndarray,
    error_bound: float,
    length_bound: int,
    interval_ms: int,
    split_fraction: float | None = None,
) -> Iterator[pd.DataFrame]:
    """The one group run splitter, behind every group fit. One row per
    (group `key`, `salt`, bin `ts`), sorted; `vals` is the (rows, K)
    float32 member matrix, where NaN marks an absent member (the
    reference's TimeSeriesGroup emits NaN for a gapped member,
    TimeSeriesGroup.java:168-172), and `gsize` is each row's group
    member count, so a run's gaps are range(gsize) minus its present
    members. A run ends where the key, the salt day or the active-member
    set changes, or at a time gap. Runs of two or more timestamps go
    through `_fit_group_run`; single-timestamp runs (the dominant case
    on sparse-activity series) emit in bulk per present-member count
    through `_single_ts_rows`; they cannot trigger the dynamic split, so
    this holds for both cascades."""
    out: dict[str, list] = {c: [] for c in _GCOLS}
    active = ~np.isnan(vals)
    n = ts.size
    brk = np.ones(n, dtype=bool)
    brk[1:] = (
        (key[1:] != key[:-1])
        | (salt[1:] != salt[:-1])
        | ((ts[1:] - ts[:-1]) > interval_ms)
        | (active[1:] != active[:-1]).any(axis=1)
    )
    starts = np.flatnonzero(brk)
    lens = np.diff(np.append(starts, n))
    n_act = active[starts].sum(axis=1)
    multi = (lens > 1) & (n_act > 0)
    for s, e in zip(starts[multi].tolist(), (starts + lens)[multi].tolist()):
        tids = np.flatnonzero(active[s]).tolist()
        _fit_group_run(
            key[s],
            ts[s:e],
            vals[s:e, tids],
            tids,
            int(gsize[s]),
            error_bound,
            length_bound,
            interval_ms,
            out,
            split_fraction,
        )
    if out["n"]:
        yield pd.DataFrame(out, columns=_GCOLS)
    single = (lens == 1) & (n_act > 0)
    srow, sk = starts[single], n_act[single]
    for k in np.unique(sk):
        sel = srow[sk == k]
        act = active[sel]
        yield _single_ts_rows(
            key[sel],
            ts[sel],
            vals[sel][act].reshape(-1, k),
            np.nonzero(act)[1].reshape(-1, k),
            gsize[sel],
            interval_ms,
        )


def _fit_group_runs(
    error_bound: float,
    length_bound: int,
    interval_ms: int,
    split_fraction: float | None = None,
):
    """Per-run body of `fit_segments_grouped`: rows sorted by (conv_id,
    salt, bin_ms), one column per member metric; the `METRICS` columns
    are the member matrix of a conversation's group."""

    def fit(pdf: pd.DataFrame) -> Iterator[pd.DataFrame]:
        return _fit_member_runs(
            pdf["conv_id"].to_numpy(),
            pdf["salt"].to_numpy(),
            pdf["bin_ms"].to_numpy().astype(np.int64),
            np.column_stack([pdf[m].to_numpy().astype(np.float32) for m in METRICS]),
            np.full(len(pdf), len(METRICS)),
            error_bound,
            length_bound,
            interval_ms,
            split_fraction,
        )

    return fit


def fit_segments_grouped(
    wide_series: DataFrame,
    cfg: EngineConfig = DEFAULT_CONFIG,
    dynamic_split_fraction: float | None = None,
) -> DataFrame:
    """Wide series (one row per active bin, one column per metric) ->
    GROUP segments, in the shared `fit_arranged` shape: one shuffle on
    (conv_id, salt), fitted in sorted Arrow batches.

    With `dynamic_split_fraction` set, the fit runs the reference's
    ratio-feedback dynamic split/join inside each run (see
    `_fit_group_run`); pass `DYNAMIC_SPLIT_FRACTION` for the
    reference default of 10."""
    return fit_arranged(
        wide_series,
        cfg,
        ["conv_id"],
        _fit_group_runs(
            cfg.error_bound,
            cfg.length_bound,
            cfg.interval_ms,
            dynamic_split_fraction,
        ),
        GROUP_SEGMENT_SCHEMA,
    )


def explode_group_segments(gseg: DataFrame) -> DataFrame:
    """Group segment -> one logical segment per present tid
    (SegmentGroup.explode:51-111): the member keeps the shared
    (start, end, mtid, model) plus (goff, gsize) so the decoder strides
    the interleaved payload. Pure JVM (posexplode + element_at)."""
    metric_arr = F.array(*[F.lit(m) for m in METRICS])
    e = gseg.select(
        "conv_id",
        "start_ms",
        "end_ms",
        "interval_ms",
        "mtid",
        "model",
        "group_size",
        "p0",
        "p1",
        F.posexplode("tids").alias("goff", "tid"),
        "seg_cnt",
        "seg_min",
        "seg_max",
        "seg_sum",
    )
    return e.select(
        "conv_id",
        F.element_at(metric_arr, F.col("tid") + 1).alias("metric"),
        "start_ms",
        "end_ms",
        "interval_ms",
        "mtid",
        "model",
        F.element_at("seg_cnt", F.col("goff") + 1).alias("seg_cnt"),
        F.element_at("seg_min", F.col("goff") + 1).alias("seg_min"),
        F.element_at("seg_max", F.col("goff") + 1).alias("seg_max"),
        F.element_at("seg_sum", F.col("goff") + 1).alias("seg_sum"),
        "p0",
        "p1",
        "goff",
        F.col("group_size").alias("gsize"),
    )


def grid_group(gseg: DataFrame) -> DataFrame:
    """Group segments -> reconstructed per-series points: the exploded
    members run through the same point kernel as per-series segments
    (dense members decode once with the group stride)."""
    return grid(explode_group_segments(gseg))


def correlated_conversations(
    wide_series: DataFrame,
    threshold: float = 0.2,
    per_day: bool = False,
) -> DataFrame:
    """Group-formation decision — the reference forms groups from
    static correlation clauses evaluated at startup
    (core/Correlation.java:40-45: by source, by dimension members, by
    LCA level, by dimension distance; applied in
    core/Partitioner.java:95-124). Spark-first modernization: measure
    the actual Pearson correlation of the member series (one hash
    aggregate) and group when it clears the threshold — the
    data-driven analogue of the reference's `distance` clause.

    With per_day=True the decision is per (conv_id, salt-day) — the
    analogue of the reference's DYNAMIC group split/join
    (SegmentGenerator.java:296-351: split a group whose emitted
    segments compress poorly, rejoin when correlation returns): a
    conversation compresses as a group exactly on the days its members
    move together. Returns (conv_id[, salt], grouped: bool)."""
    keys = ["conv_id"] + (["salt"] if per_day else [])
    # Pearson via try_divide: a zero-variance member makes the
    # correlation undefined (ANSI mode raises on F.corr's internal
    # division) -> NULL. Each pair's predicate NULL-coalesces to False
    # individually (F.least would SKIP nulls and let the other pairs
    # outvote an undefined one), so ANY undefined pair routes the
    # conversation per-series regardless of group size.
    conds = [
        F.coalesce(
            F.try_divide(
                F.covar_pop(METRICS[i], METRICS[j]),
                F.stddev_pop(METRICS[i]) * F.stddev_pop(METRICS[j]),
            )
            >= threshold,
            F.lit(False),
        )
        for i in range(len(METRICS))
        for j in range(i + 1, len(METRICS))
    ]
    grouped = conds[0]
    for c in conds[1:]:
        grouped = grouped & c
    return wide_series.groupBy(*keys).agg(grouped.alias("grouped"))


def fit_segments_adaptive(
    wide_series: DataFrame,
    cfg: EngineConfig = DEFAULT_CONFIG,
    threshold: float = 0.2,
    per_day: bool = False,
    checkpoint: str = "local",
) -> tuple[DataFrame, DataFrame]:
    """Route each conversation (or, with per_day=True, each
    conversation-day — the dynamic split/join analogue) to GROUP or
    PER-SERIES fitting by measured correlation (Partitioner.java:95-124
    group formation; SegmentGenerator.java:296-351 dynamic split).
    Returns (group_segments, per_series_segments); at error bound 0
    both reconstruct exactly, so routing only moves the compression
    ratio, never correctness. Segments never span a salt day, so
    per-day routing cannot split a segment.

    The routing frame — one boolean per conversation(-day), tiny
    relative to the bins — is broadcast, so the join adds NO exchange
    of point-sized rows (measured ~17% end-to-end at sf0.1: the bins
    then shuffle once, for the fit, instead of twice).

    `checkpoint` picks how the shared routed frame is materialized for
    the two branches: "local" (default) = localCheckpoint — executor-
    local blocks, cheapest, right for local mode and dedicated
    clusters, but executor loss fails the job (lineage is truncated);
    "reliable" = spark.checkpoint to the session's checkpoint dir
    (``SparkContext.setCheckpointDir`` — point it at durable storage,
    e.g. the catalog root), which survives executor loss/preemption at
    the cost of one write+read of the bins-sized frame — the right
    setting on preemptible/spot clusters."""
    from modelardb_spark.operators.fit import fit_segments_wide

    if per_day:
        salt_ms = cfg.salt_days * 86_400_000
        keyed = wide_series.withColumn(
            "salt", (F.col("bin_ms") / F.lit(salt_ms)).cast("long")
        )
        routed = keyed.join(
            F.broadcast(
                correlated_conversations(keyed, threshold, per_day=True)
            ),
            ["conv_id", "salt"],
        ).drop("salt")
    else:
        routed = wide_series.join(
            F.broadcast(correlated_conversations(wide_series, threshold)),
            "conv_id",
        )
    # both branches consume the SAME routed frame: a (lazy) checkpoint
    # materializes it once at the first branch's action and the second
    # branch reuses it. Unlike persist(), the blocks are RDD-scoped —
    # the ContextCleaner frees them when the returned frames are
    # garbage-collected, so a long-lived query-server session does not
    # accumulate one CacheManager entry per call.
    if checkpoint == "reliable":
        sc = routed.sparkSession.sparkContext
        if not sc.getCheckpointDir():
            raise ValueError(
                "checkpoint='reliable' needs SparkContext.setCheckpointDir("
                "<durable path, e.g. the catalog root>) before the fit"
            )
        routed = routed.checkpoint(eager=False)
    elif checkpoint == "local":
        routed = routed.localCheckpoint(eager=False)
    else:
        raise ValueError(f"checkpoint must be 'local' or 'reliable': {checkpoint}")
    g = fit_segments_grouped(routed.where(F.col("grouped")).drop("grouped"), cfg)
    p = fit_segments_wide(routed.where(~F.col("grouped")).drop("grouped"), cfg)
    return g, p


def rollup_adaptive(
    gseg: DataFrame,
    pseg: DataFrame,
    window_ms: int,
) -> DataFrame:
    """Rollup over an adaptive fit: the group and per-series PARTIALS
    are unioned and aggregated once. With per-day routing a
    conversation may sit in the group path on one day and per-series
    on the next, so a window spanning a routing boundary has partial
    rows in both branches; the merge (sum/min/max are associative over
    disjoint point sets) is exact for every window width, not just
    salt-aligned ones."""
    return merge_partials(
        window_partials(explode_group_segments(gseg), window_ms)
        .unionByName(window_partials(pseg, window_ms)),
        "conv_id",
        "metric",
        "window_ms",
    )


def group_compression_stats(gseg: DataFrame) -> DataFrame:
    """Per-conversation compression accounting for the GROUP path,
    using the reference ratio INCLUDING the gap-entry term
    (ModelType.java:49-54): 16 bytes/point raw vs 24-byte metadata +
    payload + 4 bytes per stored gap entry."""
    per_seg = gseg.select(
        "conv_id",
        F.col("n"),
        (
            F.lit(24) + F.length("model") + F.size("gaps") * F.lit(4)
        ).alias("stored_bytes"),
    )
    return per_seg.groupBy("conv_id").agg(
        F.count("*").alias("segments"),
        F.sum("n").alias("points"),
        F.sum("stored_bytes").alias("stored_bytes"),
        F.round((16.0 * F.sum("n")) / F.sum("stored_bytes"), 6).alias(
            "compression_ratio"
        ),
    )
