"""Physical-plan assertions: the scale-design claims hold in the
actual Catalyst plans, not just in docstrings.

- column pruning reaches the parquet scan (a 2-column projection must
  not read the text payload);
- dimension predicates route through a broadcast join (never a
  shuffle of the fact side);
- segment-bound restriction pushes min/max filters into the parquet
  scan of a stored segments table;
- the rollup aggregation is a partial/final hash aggregate pair (one
  exchange), not a sort-based or multi-exchange plan.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from modelardb_spark.config import EngineConfig
from modelardb_spark.operators.fit import fit_segments_wide
from modelardb_spark.operators.grid import restrict
from modelardb_spark.operators.rollup import (
    HOUR_MS,
    MINUTE_MS,
    merge_partials,
    rollup_from_segments,
    window_partials,
)
from modelardb_spark.operators.series import derive_series_wide
from modelardb_spark.operators.transcripts import transcripts_from_events


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_series_scan_prunes_text_columns(spark, sf_small):
    """Deriving series needs (user_id, ts, event_type); the scan's
    ReadSchema must not include the text payload column."""
    series = derive_series_wide(
        transcripts_from_events(spark, sf_small), EngineConfig()
    )
    plan = _plan(series)
    scan = plan[plan.index("ReadSchema"):][:400]
    assert "props" not in scan, scan
    assert "ts" in scan


def test_dim_restrict_is_broadcast(spark, sf_small, tmp_path):
    from modelardb_spark.operators.dimensions import (
        conversation_dimensions,
        dim_restrict,
    )

    # store the segments first so the ONLY possible exchange in the
    # restricted plan would be a join-induced one
    seg = fit_segments_wide(
        derive_series_wide(transcripts_from_events(spark, sf_small)),
    )
    p = str(tmp_path / "dimseg")
    seg.write.parquet(p)
    stored = spark.read.parquet(p)
    # literal dims frame: the dim side then contributes no exchange of
    # its own, so ANY hash-partition exchange in the plan would be a
    # fact-side shuffle — exactly what must not happen
    convs = [r[0] for r in conversation_dimensions(stored).collect()]
    dims = spark.createDataFrame(
        [(c, "web" if i % 2 == 0 else "api") for i, c in enumerate(sorted(convs))],
        "conv_id string, channel string",
    )
    plan = _plan(dim_restrict(stored, dims, channel="web"))
    assert "BroadcastHashJoin" in plan
    assert "Exchange hashpartitioning" not in plan
    assert "SortMergeJoin" not in plan


def test_restrict_pushes_bounds_to_parquet(spark, sf_small, tmp_path):
    seg = fit_segments_wide(
        derive_series_wide(transcripts_from_events(spark, sf_small)),
    )
    p = str(tmp_path / "segtable")
    seg.write.parquet(p)
    stored = spark.read.parquet(p)
    plan = _plan(restrict(stored, 1_704_672_000_000, 1_705_276_799_999))
    pushed = plan[plan.index("PushedFilters"):][:300]
    assert "end_ms" in pushed and "start_ms" in pushed, pushed


def test_fused_fit_is_single_exchange(spark, sf_small, tmp_path):
    """The FUSED derive+fit must shuffle exactly once (the fit
    repartition) with no hash-aggregate stage at all — the two-step
    path pays a derive aggregation exchange on top. Every fit entry
    point shares that shape: over an exchange-free input it plans
    exactly one hash exchange and one MapInPandas."""
    from modelardb_spark.operators.dimensions import conversation_dimensions
    from modelardb_spark.operators.dimgroup import (
        dim_group_members,
        fit_segments_dim_grouped,
        materialize_members,
    )
    from modelardb_spark.operators.fit import fit_segments_from_transcripts
    from modelardb_spark.operators.groupfit import fit_segments_grouped
    from modelardb_spark.operators.series import derive_series
    from tests.reference_oracle import fit_segments

    # cached frames from other modules would splice InMemoryRelations
    # into these plans and change the exchange counts
    spark.catalog.clearCache()
    fused = _plan(
        fit_segments_from_transcripts(
            transcripts_from_events(spark, sf_small), EngineConfig()
        )
    )
    assert fused.count("Exchange hashpartitioning") == 1, fused
    assert "HashAggregate" not in fused
    two_step = _plan(
        fit_segments_wide(
            derive_series_wide(transcripts_from_events(spark, sf_small)),
        )
    )
    assert two_step.count("Exchange hashpartitioning") == 2
    # and the fused scan still prunes the text payload
    scan = fused[fused.index("ReadSchema"):][:400]
    assert "props" not in scan, scan

    t = transcripts_from_events(spark, sf_small)
    derive_series(t).write.parquet(str(tmp_path / "narrow"))
    derive_series_wide(t).write.parquet(str(tmp_path / "wide"))
    narrow = spark.read.parquet(str(tmp_path / "narrow"))
    wide = spark.read.parquet(str(tmp_path / "wide"))
    members = materialize_members(
        dim_group_members(narrow, conversation_dimensions(narrow))
    )
    fits = {
        "fit_segments": fit_segments(narrow),
        "fit_segments_wide": fit_segments_wide(wide),
        "fit_segments_from_transcripts": fit_segments_from_transcripts(t),
        "fit_segments_grouped": fit_segments_grouped(wide),
        "fit_segments_dim_grouped": fit_segments_dim_grouped(narrow, members),
    }
    for name, df in fits.items():
        plan = _plan(df)
        assert plan.count("Exchange hashpartitioning") == 1, (name, plan)
        assert plan.count("MapInPandas") == 1, (name, plan)


def test_data_points_tvf_pushes_window_to_scan(spark, sf_small, tmp_path):
    """The DATA_POINTS(lo, hi) table function (ViewDataPoint rewrite)
    must push the segment-overlap bounds into the parquet scan — the
    window never decodes out-of-range segments — and must agree with
    the DataFrame-API restrict+grid path."""
    from modelardb_spark.operators.grid import grid, restrict
    from modelardb_spark.operators.sqlfunctions import register_sql_functions

    lo, hi = 1_704_672_000_000, 1_705_276_799_999
    seg = fit_segments_wide(
        derive_series_wide(transcripts_from_events(spark, sf_small)),
    )
    p = str(tmp_path / "segtvf")
    seg.write.parquet(p)
    spark.read.parquet(p).createOrReplaceTempView("segments")
    register_sql_functions(spark)
    df = spark.sql(f"SELECT * FROM DATA_POINTS({lo}, {hi})")
    plan = _plan(df)
    pushed = plan[plan.index("PushedFilters"):][:300]
    assert "end_ms" in pushed and "start_ms" in pushed, pushed
    api = grid(restrict(spark.read.parquet(p), lo, hi)).where(
        (F.col("bin_ms") >= lo) & (F.col("bin_ms") <= hi)
    )
    assert sorted(map(tuple, df.collect())) == sorted(map(tuple, api.collect()))


def test_rollup_is_single_hash_agg_pair(spark, sf_small, tmp_path):
    """From a STORED segments table, the 1h rollup plan is scan ->
    map-side partials -> ONE exchange -> final hash aggregate; no
    sort-aggregate, no extra exchange. Exploded group and
    dimension-group members take the same entry: map-only at the fit
    interval, one partial/final pair at 1h."""
    seg = fit_segments_wide(
        derive_series_wide(transcripts_from_events(spark, sf_small)),
    )
    p = str(tmp_path / "segtable2")
    seg.write.parquet(p)
    stored = spark.read.parquet(p)
    plan = _plan(rollup_from_segments(stored, HOUR_MS, MINUTE_MS))
    assert "HashAggregate" in plan
    assert "SortAggregate" not in plan
    # one exchange for the final aggregation (the union's two branches
    # feed the same hash partitioning); AQE may render it as one node
    assert plan.count("Exchange hashpartitioning") <= 2, plan.count(
        "Exchange hashpartitioning"
    )

    # the adaptive rollup unions the group and per-series partials and
    # aggregates them ONCE: one partial/final HashAggregate pair
    from modelardb_spark.operators.groupfit import (
        fit_segments_adaptive,
        rollup_adaptive,
    )

    g, ps = fit_segments_adaptive(
        derive_series_wide(transcripts_from_events(spark, sf_small)),
        per_day=True,
    )
    g.write.parquet(str(tmp_path / "adaptive_g"))
    ps.write.parquet(str(tmp_path / "adaptive_p"))
    plan = _plan(
        rollup_adaptive(
            spark.read.parquet(str(tmp_path / "adaptive_g")),
            spark.read.parquet(str(tmp_path / "adaptive_p")),
            HOUR_MS,
        )
    )
    assert plan.count("HashAggregate") == 2, plan
    assert "SortAggregate" not in plan

    from modelardb_spark.operators.dimensions import conversation_dimensions
    from modelardb_spark.operators.dimgroup import (
        dim_group_members,
        explode_dim_group_segments,
        fit_segments_dim_grouped,
        materialize_members,
    )
    from modelardb_spark.operators.groupfit import (
        explode_group_segments,
        fit_segments_grouped,
    )
    from modelardb_spark.operators.series import derive_series

    cfg = EngineConfig()
    t = transcripts_from_events(spark, sf_small)
    s = derive_series(t, cfg)
    members = materialize_members(
        dim_group_members(s, conversation_dimensions(s), by="channel",
                          max_group_size=8)
    )
    fit_segments_grouped(derive_series_wide(t, cfg), cfg).write.parquet(
        str(tmp_path / "gseg")
    )
    fit_segments_dim_grouped(s, members, cfg).write.parquet(
        str(tmp_path / "dgseg")
    )
    layouts = {
        "group": explode_group_segments(spark.read.parquet(str(tmp_path / "gseg"))),
        "dim_group": explode_dim_group_segments(
            spark.read.parquet(str(tmp_path / "dgseg")), members
        ),
    }
    keys = ["conv_id", "metric", "window_ms"]
    for name, exploded in layouts.items():
        for window_ms, aggs in ((cfg.interval_ms, 0), (HOUR_MS, 2)):
            tier = rollup_from_segments(exploded, window_ms, cfg.interval_ms)
            plan = _plan(tier)
            assert plan.count("HashAggregate") == aggs, (name, window_ms, plan)
            assert "SortAggregate" not in plan
            want = merge_partials(window_partials(exploded, window_ms), *keys)
            assert sorted(tier.collect()) == sorted(want.collect()), (
                name, window_ms,
            )


def test_segment_sql_aggregates_decompose_partial_final(spark, sf_small, tmp_path):
    """segment_sql rewrites the *_S aggregates into built-in aggregates
    over per-segment SEG_AGG partials: the plan must be a partial/final
    HashAggregate pair (map-side partials below the exchange, like the
    reference's Aggregators, SparkUDAF.scala:37-51), with ONE deduped
    ArrowEvalPython evaluation and no complete-mode AggregateInPandas
    shipping a group's segment rows to one task."""
    from modelardb_spark.operators.sqlfunctions import (
        register_sql_functions,
        segment_sql,
    )

    seg = fit_segments_wide(
        derive_series_wide(transcripts_from_events(spark, sf_small)),
    )
    p = str(tmp_path / "segsqlagg")
    seg.write.parquet(p)
    spark.read.parquet(p).createOrReplaceTempView("segments")
    register_sql_functions(spark)
    df = segment_sql(
        spark,
        """
        SELECT conv_id, COUNT_S(#) AS cnt, MIN_S(#) AS vmin,
               MAX_S(#) AS vmax, SUM_S(#) AS vsum, AVG_S(#) AS mean
        FROM segments GROUP BY conv_id
        """,
    )
    plan = _plan(df)
    assert "AggregateInPandas" not in plan, plan
    assert plan.count("HashAggregate") == 2, plan
    assert plan.count("ArrowEvalPython") == 1, plan
    # the five aggregates share ONE SEG_AGG evaluation (deduped):
    # each segment decodes once, map-side
    assert plan.count("SEG_AGG") == 1, plan
    # and the UDF runs below the exchange (partial side)
    ex = plan.index("Exchange hashpartitioning")
    assert plan.index("ArrowEvalPython") > ex, "UDF must be below the exchange"


def test_segment_sql_count_restrict_is_pure_jvm(spark, sf_small, tmp_path):
    """COUNT_S decomposes to pure-SQL SUM arithmetic: a restriction +
    count query contains no Python evaluation node at all."""
    from modelardb_spark.operators.sqlfunctions import (
        register_sql_functions,
        segment_sql,
    )

    seg = fit_segments_wide(
        derive_series_wide(transcripts_from_events(spark, sf_small)),
    )
    p = str(tmp_path / "segsqlcnt")
    seg.write.parquet(p)
    spark.read.parquet(p).createOrReplaceTempView("segments")
    register_sql_functions(spark)
    lo, hi = 1_704_672_000_000, 1_705_276_799_999
    df = segment_sql(
        spark,
        f"""
        SELECT conv_id, COUNT_S(se.s, se.e, interval_ms) AS cnt
        FROM (
          SELECT conv_id, interval_ms,
                 START_END(start_ms, end_ms, interval_ms, {lo}, {hi}) AS se
          FROM segments WHERE end_ms >= {lo} AND start_ms <= {hi}
        ) GROUP BY conv_id
        """,
    )
    plan = _plan(df)
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan, plan
    # (AQE prints isFinalPlan=false pre-execution, so codegen spans
    # aren't visible here; no-Python + hash aggregation is the claim)
    assert "HashAggregate" in plan


def test_avg_s_alone_dedupes_its_two_seg_agg_occurrences(spark, sf_small, tmp_path):
    """AVG_S rewrites to SUM(SEG_AGG(...).vsum) / SUM(SEG_AGG(...).cnt)
    — textually TWO SEG_AGG calls; Catalyst must collapse them to one
    ArrowEvalPython evaluation (each segment decodes once)."""
    from modelardb_spark.operators.sqlfunctions import (
        register_sql_functions,
        segment_sql,
    )

    seg = fit_segments_wide(
        derive_series_wide(transcripts_from_events(spark, sf_small)),
    )
    p = str(tmp_path / "avgsolo")
    seg.write.parquet(p)
    spark.read.parquet(p).createOrReplaceTempView("segments")
    register_sql_functions(spark)
    df = segment_sql(
        spark,
        "SELECT conv_id, AVG_S(#) AS mean FROM segments GROUP BY conv_id",
    )
    plan = _plan(df)
    assert plan.count("SEG_AGG") == 1, plan
    assert plan.count("ArrowEvalPython") == 1, plan


def test_duplicate_clusters_severs_lsh_lineage(spark, sf_small):
    """The connected-components step must NOT replay the LSH pair
    pipeline per consumer: the edge frame is localCheckpointed up
    front, so the final plan sees either a LocalTableScan (the
    size-gated driver fast path: labels arrive as a local relation)
    or an ExistingRDD scan (the distributed loop) — no shingle
    explode, minhash aggregation, or band self-join may appear in
    it — and it must contain no cartesian product."""
    from modelardb_spark.operators.dedup import (
        duplicate_clusters,
        minhash_lsh_pairs,
    )
    from modelardb_spark.operators.textstats import load_documents

    docs = load_documents(spark, sf_small)
    pairs = minhash_lsh_pairs(docs, jaccard_threshold=0.35)
    plan = _plan(duplicate_clusters(pairs, docs))
    assert "CartesianProduct" not in plan
    assert "LocalTableScan" in plan
    for marker in ("posexplode", "band_hash", "shingle"):
        assert marker not in plan, f"LSH lineage leaked into plan: {marker}"
    # the distributed loop (past the size gate) must sever the lineage
    # the same way via the checkpointed edge RDD
    plan_d = _plan(duplicate_clusters(pairs, docs, max_local_edges=0))
    assert "CartesianProduct" not in plan_d
    assert "ExistingRDD" in plan_d or "Scan ExistingRDD" in plan_d
    for marker in ("posexplode", "band_hash", "shingle"):
        assert marker not in plan_d, f"LSH lineage leaked into plan: {marker}"


def _snap(df):
    """Sorted rows with floats as repr: equality is bit-for-bit."""
    return sorted(
        tuple(repr(x) if isinstance(x, float) else x for x in r)
        for r in df.collect()
    )


def _closed_form_oracle(segments, window_ms):
    """Catalyst column expressions of the per-(segment ∩ window)
    PMC/Swing closed forms: the parity oracle of the NumPy kernel."""
    w = F.lit(window_ms)
    split = segments.where(F.col("mtid").isin(2, 3)).select(
        "conv_id",
        "metric",
        "mtid",
        "p0",
        "p1",
        "interval_ms",
        F.explode(
            F.sequence(
                (F.floor(F.col("start_ms") / w) * w).cast("long"),
                (F.floor(F.col("end_ms") / w) * w).cast("long"),
                w,
            )
        ).alias("window_ms"),
        "start_ms",
        "end_ms",
    ).select(
        "conv_id",
        "metric",
        "mtid",
        "p0",
        "p1",
        "interval_ms",
        "window_ms",
        F.greatest("start_ms", "window_ms").alias("sub_start"),
        F.least(
            F.col("end_ms"), F.col("window_ms") + w - F.col("interval_ms")
        ).alias("sub_end"),
    )
    cnt = ((F.col("sub_end") - F.col("sub_start")) / F.col("interval_ms") + 1).cast(
        "long"
    )
    first = F.col("p0") * F.col("sub_start") + F.col("p1")
    last = F.col("p0") * F.col("sub_end") + F.col("p1")
    is_pmc = F.col("mtid") == 2
    # Swing min/max at the endpoints by slope sign, evaluated at float32
    # like grid values (SwingFilterModelType.java:205-225); PMC constant
    swing_min = (
        F.when(F.col("p0") == 0, F.col("p1"))
        .when(F.col("p0") > 0, first)
        .otherwise(last)
        .cast("float")
    )
    swing_max = (
        F.when(F.col("p0") == 0, F.col("p1"))
        .when(F.col("p0") < 0, first)
        .otherwise(last)
        .cast("float")
    )
    # Swing sum: trapezoid of the unrounded doubles (:227-233);
    # PMC sum: cnt * constant (PMC_MeanModelType.java:133-135)
    return split.select(
        "conv_id",
        "metric",
        "window_ms",
        cnt.alias("cnt"),
        F.when(is_pmc, F.col("p0").cast("float")).otherwise(swing_min).alias("vmin"),
        F.when(is_pmc, F.col("p0").cast("float")).otherwise(swing_max).alias("vmax"),
        F.when(is_pmc, F.col("p0") * cnt)
        .otherwise((first + last) / 2.0 * cnt)
        .alias("vsum"),
    )


def test_window_partials_match_oracle_and_scalar_decode(spark):
    """The rollup kernel's partials, bit for bit: PMC/Swing rows equal
    the Catalyst closed-form oracle (including the SWING closed forms,
    which the sf* test tables never produce), and Gorilla/raw rows
    equal the per-segment scalar `decode_values` reduced per window."""
    import numpy as np

    from modelardb_spark.models.gorilla import gorilla_compress
    from modelardb_spark.models.segment import decode_values
    from modelardb_spark.models.uncompressed import raw_model
    from modelardb_spark.operators.rollup import window_partials

    iv = 60_000
    base = 1_704_672_000_000
    rows = []
    rng = np.random.default_rng(5)
    for i in range(40):
        s = base + i * 37 * iv
        n = int(rng.integers(1, 200))
        e = s + (n - 1) * iv
        kind = i % 4
        if kind == 0:  # PMC
            rows.append(("c%d" % (i % 5), "m", s, e, iv, 2, b"\x00" * 4,
                         float(rng.normal()), float("nan")))
        elif kind == 1:  # SWING — slopes incl. 0, +, -
            slope = float(rng.choice([0.0, 2.5e-7, -1.5e-7]))
            rows.append(("c%d" % (i % 5), "m", s, e, iv, 3, b"\x00" * 4,
                         slope, float(rng.normal() * 10)))
        else:  # GORILLA, RAW
            vals = rng.normal(size=n).astype(np.float32)
            model = gorilla_compress(vals) if kind == 2 else raw_model(vals, n)
            rows.append(("c%d" % (i % 5), "m", s, e, iv, 4 if kind == 2 else 1,
                         model, float("nan"), float("nan")))
    seg = spark.createDataFrame(
        rows,
        "conv_id string, metric string, start_ms long, end_ms long, "
        "interval_ms long, mtid int, model binary, p0 double, p1 double",
    )

    closed = _snap(window_partials(seg.where(F.col("mtid").isin(2, 3)), HOUR_MS))
    assert len(closed) > 0
    assert closed == _snap(_closed_form_oracle(seg, HOUR_MS))

    want = []
    for conv, met, s, e, si, mtid, model, _, _ in rows:
        if mtid not in (1, 4):
            continue
        v = decode_values(mtid, model, s, e, si)
        win = (s + si * np.arange(v.size)) // HOUR_MS * HOUR_MS
        for w in np.unique(win):
            x = v[win == w]
            want.append((conv, met, int(w), int(x.size), float(x.min()),
                         float(x.max()), float(x.astype(np.float64).sum())))
    dense = window_partials(seg.where(F.col("mtid").isin(1, 4)), HOUR_MS)
    assert _snap(dense) == sorted(
        tuple(repr(x) if isinstance(x, float) else x for x in r) for r in want
    )


def _point_oracle(segments):
    """Catalyst ``explode(sequence)`` form of PMC/Swing point
    reconstruction: the parity oracle of the NumPy point kernel."""
    return (
        segments.where(F.col("mtid").isin(2, 3))
        .select(
            "conv_id",
            "metric",
            "mtid",
            "p0",
            "p1",
            F.explode(
                F.sequence(F.col("start_ms"), F.col("end_ms"), F.col("interval_ms"))
            ).alias("bin_ms"),
        )
        .select(
            "conv_id",
            "metric",
            "bin_ms",
            F.when(F.col("mtid") == 2, F.col("p0"))
            .otherwise(F.col("p0") * F.col("bin_ms") + F.col("p1"))
            .cast("float")
            .alias("value"),
        )
    )


def test_segment_points_match_oracle_and_scalar_decode(spark):
    """The point kernel, bit for bit. PMC rows and Swing rows (positive,
    negative and zero slope; 8-, 12- and 16-byte models) equal the
    Catalyst oracle through `grid` and through DECODE_SEGMENT, which
    decodes (p0, p1) from the model bytes. Gorilla/raw rows and strided
    group members equal the scalar reference decoders slot for slot, in
    batches where dense and analytic rows interleave; an empty batch
    gives no points."""
    import numpy as np
    import pandas as pd

    from modelardb_spark.models.gorilla import gorilla_compress
    from modelardb_spark.models.segment import segment_points
    from modelardb_spark.models.swing import swing_decode, swing_model
    from modelardb_spark.models.uncompressed import raw_model
    from modelardb_spark.operators.grid import grid
    from modelardb_spark.operators.sqlfunctions import _make_decode_udf
    from tests.reference_oracle import decode_group_values, segment_grid

    iv = 60_000
    base = 1_704_672_000_000
    swings = [
        (2.0**-30, 3.5),  # 8 bytes
        (-(2.0**-31), 1.0),  # 8 bytes
        (0.0, -2.25),  # 8 bytes
        (2.0**-30, 0.1),  # 12 bytes
        (-(2.0**-32), 7.3),  # 12 bytes
        (0.0, 0.1),  # 12 bytes
        (1e-9, 0.1),  # 16 bytes
        (-3e-10, 2.0),  # 16 bytes
    ]
    rng = np.random.default_rng(8)
    cols = ["conv_id", "metric", "start_ms", "end_ms", "interval_ms",
            "mtid", "model", "p0", "p1"]
    rows = []
    for i in range(48):
        s = base + i * 37 * iv
        n = int(rng.integers(1, 120))
        e = s + (n - 1) * iv
        kind = i % 4
        if kind == 0:  # PMC
            c = np.float32(rng.normal())
            model, p0, p1 = np.array([c], ">f4").tobytes(), float(c), float("nan")
            mtid = 2
        elif kind == 1:  # Swing
            model = swing_model(*swings[(i // 4) % len(swings)])
            (p0, p1), mtid = swing_decode(model), 3
        else:  # Gorilla, raw
            vals = rng.normal(size=n).astype(np.float32)
            model = gorilla_compress(vals) if kind == 2 else raw_model(vals, n)
            p0 = p1 = float("nan")
            mtid = 4 if kind == 2 else 1
        rows.append((f"r{i:02d}", "m", s, e, iv, mtid, model, p0, p1))
    assert {len(swing_model(a, b)) for a, b in swings} == {8, 12, 16}

    # NumPy kernel: every row's points, slot for slot
    pdf = pd.DataFrame(rows, columns=cols)
    row, bin_ms, value = segment_points(pdf)
    assert (np.diff(row) >= 0).all()
    for i, (_, _, s, e, si, mtid, model, _, _) in enumerate(rows):
        ts, want = segment_grid(mtid, model, s, e, si)
        np.testing.assert_array_equal(bin_ms[row == i], ts)
        if mtid in (1, 4):
            assert value[row == i].tobytes() == want.tobytes(), i
    empty = segment_points(pdf.iloc[:0])
    assert [a.size for a in empty] == [0, 0, 0]

    # group members with a stride, dense groups around an analytic one
    grows = []
    for g, mtid in enumerate((4, 2, 1, 4)):
        n_ts, gsize = int(rng.integers(1, 30)), 3
        s = base + g * 100 * iv
        inter = rng.normal(size=n_ts * gsize).astype(np.float32)
        model = {4: gorilla_compress(inter), 1: raw_model(inter, inter.size),
                 2: inter[:1].astype(">f4").tobytes()}[mtid]
        p0 = float(inter[0]) if mtid == 2 else float("nan")
        for goff in range(gsize):
            grows.append((f"g{g}", f"m{goff}", s, s + (n_ts - 1) * iv, iv,
                          mtid, model, p0, float("nan"), goff, gsize))
    gdf = pd.DataFrame(grows, columns=cols + ["goff", "gsize"])
    row, bin_ms, value = segment_points(gdf)
    for i, r in enumerate(grows):
        n_ts = (r[3] - r[2]) // iv + 1
        want = decode_group_values(r[5], r[6], n_ts, r[10], r[9], r[2], iv)
        assert value[row == i].tobytes() == want.tobytes(), i

    # Spark: grid() and DECODE_SEGMENT against the Catalyst oracle
    seg = spark.createDataFrame(
        rows,
        "conv_id string, metric string, start_ms long, end_ms long, "
        "interval_ms long, mtid int, model binary, p0 double, p1 double",
    )
    decode = _make_decode_udf()
    decoded = seg.select(
        "conv_id",
        "metric",
        "start_ms",
        "interval_ms",
        F.posexplode(
            decode("mtid", "model", "start_ms", "end_ms", "interval_ms")
        ).alias("k", "value"),
    ).select(
        "conv_id",
        "metric",
        (F.col("start_ms") + F.col("k") * F.col("interval_ms")).alias("bin_ms"),
        "value",
    )
    points = grid(seg)
    analytic = [r[0] for r in rows if r[5] in (2, 3)]
    oracle = _snap(_point_oracle(seg))
    assert len(oracle) > 0
    assert _snap(points.where(F.col("conv_id").isin(analytic))) == oracle
    assert _snap(decoded.where(F.col("conv_id").isin(analytic))) == oracle
    assert _snap(decoded) == _snap(points)


def test_grid_plans_the_fit_once(spark, sf_small, tmp_path):
    """`grid` and `grid_group` are one mapInPandas over their input, with
    no union of per-model branches: over an unpersisted fit, each plan
    holds the fit's one exchange and MapInPandas once, plus the point
    kernel."""
    from modelardb_spark.operators.fit import fit_segments_from_transcripts
    from modelardb_spark.operators.grid import grid
    from modelardb_spark.operators.groupfit import fit_segments_grouped, grid_group

    spark.catalog.clearCache()
    t = transcripts_from_events(spark, sf_small)
    derive_series_wide(t).write.parquet(str(tmp_path / "wide"))
    wide = spark.read.parquet(str(tmp_path / "wide"))
    for name, pts in {
        "grid": grid(fit_segments_from_transcripts(t)),
        "grid_group": grid_group(fit_segments_grouped(wide)),
    }.items():
        plan = _plan(pts)
        assert plan.count("Exchange hashpartitioning") == 1, (name, plan)
        assert plan.count("MapInPandas") == 2, (name, plan)
