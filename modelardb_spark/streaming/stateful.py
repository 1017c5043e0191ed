"""Stateful streaming fit: segments that SPAN micro-batches.

The plain foreachBatch ingest (streaming/ingest.py) fits each batch
independently, which requires drops to be bin-aligned per conversation
— a segment can never cross a batch boundary. This module removes that
contract with `applyInPandasWithState`: per-conversation state carries
the OPEN run (the reference's "temporary segment" notion,
SparkCache.scala:27-213 / SegmentGenerator's unemitted buffer) across
batches, and a run only finalizes — deterministically, with exactly
the segments the batch fit would produce — when the gap/salt protocol
closes it:

- a turn bin more than one interval after the run's tail closes the
  run (gap, SegmentGenerator.java:131-148);
- a salt-day boundary closes it (fit-unit bound, same as batch);
- an EVENT-TIME timeout closes it (the analogue of the reference's
  maximum_latency flush): the timeout timestamp is the run's tail plus
  `flush_after_ms`, so it fires only once the stream's WATERMARK has
  passed that point — by the watermark contract no further rows for
  those bins can arrive, making the flush final and duplicate-free.
  (A processing-time timeout would be wrong here: an idle pause
  shorter than the data's own timeline would finalize a mid-run —
  even mid-bin — prefix, and later in-order turns would then open a
  second segment covering the same bins.)

Because finalization happens only at protocol closures, the emitted
segments are IDENTICAL to a batch fit over the concatenated input —
asserted by tests/test_stateful_streaming.py with drops that split
mid-run and mid-bin. In-order arrival per conversation is still
assumed (the reference's contract; late data is served by the
watermarked tier in streaming/ingest.py::stream_rollup_1m). The
session time zone is pinned to UTC on entry — the state function
receives naive local-time pandas timestamps, so a non-UTC session
would shift every bin.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from modelardb_spark.config import DEFAULT_CONFIG, EngineConfig
from modelardb_spark.operators.fit import SEGMENT_SCHEMA, _fit_runs_wide
from modelardb_spark.operators.series import METRICS
from modelardb_spark.sources.readers import TRANSCRIPT_SCHEMA

#: open-run state per conversation: the unfinalized bins ride as a
#: DELTA-OF-DELTA compressed bitstream (models/deltadelta.py — ~1 bit
#: per timestamp on the regular grid instead of 64, shrinking every
#: state checkpoint and Arrow state exchange), plus one value array per
#: metric column
_STATE_SCHEMA = (
    "bins binary, n_bins int, "
    "turn_rate array<double>, tool_usage array<double>"
)


def _state_bins(blob, n_bins: int) -> np.ndarray:
    from modelardb_spark.models.deltadelta import dod_decompress

    return dod_decompress(bytes(blob), int(n_bins))


def _fit_closed(
    conv: str, bins, tr, tu, cfg: EngineConfig, grouped: bool
) -> pd.DataFrame | None:
    """Fit a CLOSED run list (may contain several gap-separated runs)
    through the same per-run body as the batch path: the per-series
    wide fit, or with `grouped` the multi-series GROUP cascade (one
    interleaved model row covers both metrics — the reference streams
    groups through the same SegmentGenerator as batch ingest). Every
    active bin carries BOTH counts (0 is a value, not a gap), so the
    group's active set is stable."""
    if not len(bins):
        return None
    bins = np.asarray(bins, dtype=np.int64)
    salt_ms = cfg.salt_days * 86_400_000
    pdf = pd.DataFrame(
        {
            "conv_id": np.full(bins.size, conv, dtype=object),
            "salt": bins // salt_ms,
            "bin_ms": bins,
            "turn_rate": np.asarray(tr, dtype=np.float64),
            "tool_usage": np.asarray(tu, dtype=np.float64),
        }
    )
    bounds = (cfg.error_bound, cfg.length_bound, cfg.interval_ms)
    if grouped:
        from modelardb_spark.operators.groupfit import _fit_group_runs

        fit = _fit_group_runs(*bounds)
    else:
        fit = _fit_runs_wide(METRICS, *bounds)
    frames = list(fit(pdf))
    return pd.concat(frames, ignore_index=True) if frames else None


def _flag(df: pd.DataFrame | None, temporary: bool) -> pd.DataFrame | None:
    if df is not None:
        df = df.copy()
        df["temporary"] = temporary
    return df


def _stateful_fit(
    cfg: EngineConfig,
    flush_after_ms: int,
    grouped: bool = False,
    emit_temporary: bool = False,
):
    iv = cfg.interval_ms
    salt_ms = cfg.salt_days * 86_400_000

    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        conv = key[0]
        if state.hasTimedOut:
            # idle flush: the open run finalizes (maximum_latency analogue)
            blob, n_bins, tr, tu = state.get
            state.remove()
            df = _fit_closed(conv, _state_bins(blob, n_bins), tr, tu, cfg, grouped)
            if emit_temporary:
                df = _flag(df, False)
            if df is not None:
                yield df
            return

        # bin the batch's turns (in-order contract per conversation)
        frames = [p for p in pdfs if len(p)]
        if not frames:
            return
        pdf = pd.concat(frames, ignore_index=True)
        # unit-explicit conversion (Arrow may hand ns- or us-resolution)
        ts_ms = pdf["ts"].to_numpy().astype("datetime64[ms]").astype(np.int64)
        b = (ts_ms // iv) * iv
        tool = pdf["tool"].notna().to_numpy()
        order = np.argsort(b, kind="stable")
        b = b[order]
        tool = tool[order]
        edges = np.concatenate(([0], np.flatnonzero(np.diff(b)) + 1))
        nb = b[edges]
        ntr = np.diff(np.concatenate((edges, [b.size]))).astype(np.float64)
        ntu = np.add.reduceat(tool.astype(np.float64), edges)

        if state.exists:
            oblob, o_n, otr, otu = state.get
            ob = _state_bins(oblob, o_n)
            otr = np.asarray(otr, dtype=np.float64)
            otu = np.asarray(otu, dtype=np.float64)
            if ob.size and nb.size and nb[0] == ob[-1]:
                # a bin spanning two batches merges its counts
                otr[-1] += ntr[0]
                otu[-1] += ntu[0]
                nb, ntr, ntu = nb[1:], ntr[1:], ntu[1:]
            bins = np.concatenate((ob, nb))
            tr = np.concatenate((otr, ntr))
            tu = np.concatenate((otu, ntu))
        else:
            bins, tr, tu = nb, ntr, ntu

        # the OPEN tail = the final gap-free, single-salt run; everything
        # before its start is protocol-closed and finalizes now
        closed_upto = 0
        if bins.size > 1:
            brk = (np.diff(bins) > iv) | (
                (bins[1:] // salt_ms) != (bins[:-1] // salt_ms)
            )
            idx = np.flatnonzero(brk)
            if idx.size:
                closed_upto = int(idx[-1]) + 1
        if closed_upto:
            df = _fit_closed(
                conv,
                bins[:closed_upto],
                tr[:closed_upto],
                tu[:closed_upto],
                cfg,
                grouped,
            )
            if emit_temporary:
                df = _flag(df, False)
            if df is not None:
                yield df
        from modelardb_spark.models.deltadelta import dod_compress

        open_bins = np.asarray(bins[closed_upto:], dtype=np.int64)
        state.update(
            (
                dod_compress(open_bins),
                int(open_bins.size),
                tr[closed_upto:].tolist(),
                tu[closed_upto:].tolist(),
            )
        )
        if emit_temporary:
            # TEMPORARY segments over the open run (SparkCache.scala:
            # 167-213 makes the unemitted buffer queryable within the
            # latency bound): provisional models over exactly the bins
            # still in state — never overlapping the finalized prefix,
            # replaced when this conversation next emits
            tmp = _flag(
                _fit_closed(
                    conv, open_bins, tr[closed_upto:], tu[closed_upto:], cfg, grouped
                ),
                True,
            )
            if tmp is not None:
                yield tmp
        # event-time flush: fires only when the WATERMARK passes the
        # open run's tail + allowance, i.e. when no more rows for these
        # bins can exist — the flush is then final and duplicate-free.
        # (Spark rejects a timeout at or before the current watermark,
        # which another conversation's newer data may have advanced.)
        wm = state.getCurrentWatermarkMs()
        state.setTimeoutTimestamp(
            max(int(bins[-1]) + iv + flush_after_ms, wm + 1)
        )

    return fn


def stream_ingest_stateful(
    spark: SparkSession,
    input_path: str,
    out_root: str,
    cfg: EngineConfig = DEFAULT_CONFIG,
    checkpoint_dir: str | None = None,
    flush_after_ms: int = 60_000,
    max_files_per_trigger: int = 1,
    grouped: bool = False,
    emit_temporary: bool = False,
):
    """Streaming ingest whose segments span micro-batches: turns group
    by conv_id into `applyInPandasWithState`; the open run rides in
    state until the gap/salt protocol (or the watermark passing the
    run's tail + flush_after_ms) closes it. Finalized segments append
    to `{out_root}/segments_stream`.

    `grouped=True` runs the multi-series GROUP cascade on the closed
    runs (the reference streams groups through the same
    SegmentGenerator, Spark.scala ingestion path): output rows are
    GROUP_SEGMENT_SCHEMA, bit-identical to `fit_segments_grouped` over
    the concatenated input.

    `emit_temporary=True` adds the reference's TEMPORARY-SEGMENT
    visibility (SparkCache.scala:167-213): each batch also emits
    provisional segments over every touched conversation's OPEN run.
    Finalized rows append to `segments_stream`; temporary rows replace
    that conversation's partition of `temp_segments_stream` — a
    conversation's temp rows exist exactly until it next emits, and a
    finalize (protocol close or watermark flush) atomically removes
    them in the same batch, the reference's truncate-reconcile. Query
    through `segments_with_temporary` for full freshness within the
    latency bound."""
    # the state fn receives naive local-time timestamps: pin UTC so
    # epoch-millis binning matches the batch path on ANY caller session
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    from pyspark.sql.types import BooleanType, StructField, StructType

    from modelardb_spark.operators.groupfit import GROUP_SEGMENT_SCHEMA

    base_schema = GROUP_SEGMENT_SCHEMA if grouped else SEGMENT_SCHEMA
    out_schema = (
        StructType(
            base_schema.fields + [StructField("temporary", BooleanType(), False)]
        )
        if emit_temporary
        else base_schema
    )
    stream = (
        spark.readStream.schema(TRANSCRIPT_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_path)
    )
    turns = stream.select(
        "conv_id", F.col("ts").cast("timestamp").alias("ts"), "tool"
    ).withWatermark("ts", f"{max(1, flush_after_ms // 1000)} seconds")
    segs = turns.groupBy("conv_id").applyInPandasWithState(
        _stateful_fit(cfg, flush_after_ms, grouped, emit_temporary),
        outputStructType=out_schema,
        stateStructType=_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
    writer = segs.writeStream.outputMode("append").option(
        "checkpointLocation",
        checkpoint_dir or f"{out_root}/_stateful_checkpoint",
    )
    if not emit_temporary:
        return (
            writer.format("parquet")
            .option("path", f"{out_root}/segments_stream")
            .start()
        )
    return writer.foreachBatch(_temp_visible_writer(out_root)).start()


def _temp_visible_writer(out_root: str):
    """foreachBatch sink for emit_temporary mode: finals append,
    temporaries replace their conversation's partition via DYNAMIC
    partition overwrite — fully distributed, no driver-side loop, no
    local-filesystem coupling (works on any Hadoop filesystem).

    Reconcile-on-finalize semantics: every conv that emitted ANYTHING
    this batch must have its temp partition replaced, including convs
    that emitted only finals (watermark flush) and therefore have NO
    temp rows to write. Dynamic overwrite only touches partitions
    present in the written frame, so those convs contribute a single
    TOMBSTONE row (`_tombstone = true`, all payload columns NULL); the
    union view filters tombstones out. The written frame is O(active
    convs + open runs) per micro-batch, independent of history size."""

    def write(bdf, batch_id: int) -> None:
        bdf = bdf.persist()
        try:
            final = bdf.where(~F.col("temporary")).drop("temporary")
            # batch-id-keyed directory: a replayed batch (at-least-once
            # foreachBatch) overwrites its own output instead of
            # appending duplicates — same discipline as jobs/ingest.py
            final.write.mode("overwrite").parquet(
                f"{out_root}/segments_stream/batch={batch_id}"
            )
            temp_root = f"{out_root}/temp_segments_stream"
            temp = (
                bdf.where(F.col("temporary"))
                .drop("temporary")
                .withColumn("_tombstone", F.lit(False))
            )
            payload = [
                (f.name, f.dataType)
                for f in temp.schema.fields
                if f.name not in ("conv_id", "_tombstone")
            ]
            tombs = (
                bdf.select("conv_id")
                .distinct()
                .join(temp.select("conv_id").distinct(), "conv_id", "left_anti")
                .select(
                    "conv_id",
                    *[F.lit(None).cast(dt).alias(n) for n, dt in payload],
                    F.lit(True).alias("_tombstone"),
                )
            )
            (
                temp.unionByName(tombs)
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("conv_id")
                .parquet(temp_root)
            )
        finally:
            bdf.unpersist()

    return write


def segments_with_temporary(
    spark: SparkSession, out_root: str, grouped: bool = False
):
    """The query surface of emit_temporary mode: finalized ∪ open-run
    temporary segments (SparkCache.scala:167-213's union of persistent
    and temporary segments) — a query between micro-batches sees every
    ingested point within the latency bound; after the final flush the
    temporary side is empty and the union equals the batch fit."""
    import os

    from pyspark.sql.types import BooleanType, StructField, StructType

    from modelardb_spark.operators.groupfit import GROUP_SEGMENT_SCHEMA

    schema = GROUP_SEGMENT_SCHEMA if grouped else SEGMENT_SCHEMA
    cols = [f.name for f in schema.fields]
    # the finalized side may be batch=<id>-partitioned (emit_temporary
    # writer) or flat (plain sink): select the canonical columns either
    # way, dropping any discovered partition column
    fin = spark.read.parquet(f"{out_root}/segments_stream").select(*cols)
    temp_root = f"{out_root}/temp_segments_stream"
    if not os.path.exists(temp_root):
        return fin
    # EXPLICIT schema: conv_id is a partition value on disk, and
    # partition-column type inference would coerce numeric-looking ids
    # ("0123" -> 123), corrupting values and flipping the dtype the
    # union must match; the declared schema pins it to string
    temp_schema = StructType(
        list(schema.fields) + [StructField("_tombstone", BooleanType(), True)]
    )
    tmp = (
        spark.read.schema(temp_schema)
        .parquet(temp_root)
        .where(~F.col("_tombstone"))
        .select(*cols)
    )
    return fin.unionByName(tmp)
