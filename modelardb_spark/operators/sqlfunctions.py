"""Registered SQL function surface: COUNT_S / MIN_S / MAX_S / SUM_S /
AVG_S aggregates and START / END / START_END restrictions, so
reference-style SQL over the `segments` view runs verbatim
(engines/spark/SparkUDAF.scala:346-426).

Execution shape:

- the *_S aggregates compute from the MODEL (closed form for
  PMC/Swing, decode for Gorilla/raw), not from pre-materialized
  statistics, so they work on any segment frame regardless of which
  extra columns were kept. Two execution paths:
  (a) `segment_sql` (the engine's SQL entry point — query server,
      driver surface) REWRITES each *_S call into a built-in aggregate
      over a per-segment scalar partial — COUNT_S becomes pure-SQL
      arithmetic, MIN_S/MAX_S/SUM_S/AVG_S become MIN/MAX/SUM over the
      Arrow-batched SEG_AGG scalar UDF — so Catalyst plans a true
      partial/final decomposition (map-side partial below the
      exchange, like the reference's Aggregators,
      SparkUDAF.scala:37-51): only (key, partial) rows shuffle, never
      the segment/model rows of a group.
  (b) the registered names also work in raw `spark.sql` as Arrow-
      batched pandas grouped-agg UDFs (complete-mode: Spark ships each
      group to one task) — kept for direct-session compatibility;
      bounded by segment counts, but prefer `segment_sql`.
- START / END / START_END are pure SQL scalar functions (CREATE
  TEMPORARY FUNCTION ... RETURN <expr>): they stay inside whole-stage
  codegen, no Python. The rounding arithmetic is cloned from
  core/models/Segment.java:73-95 — both bounds round OUTWARD to the
  segment's timestamp grid (the engine re-applies the exact point
  predicate after reconstruction, as the reference does).

Divergence note: the reference signatures carry (tid, ..., gaps) and
consult per-tid caches; this engine's per-series segment rows are
self-describing (interval_ms inline, no gaps at group size 1), so the
functions take the segment columns directly.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import SparkSession
from pyspark.sql.functions import pandas_udf

from modelardb_spark.models.segment import segment_agg_batch


def _seg_agg_arrays(mtid, model, start, end, si):
    """Per-segment (counts, mins, maxs, sums) arrays of one Arrow
    batch: one `segment_agg_batch` call, i.e. the `segment_partials`
    kernel with one window per segment."""
    return segment_agg_batch(
        mtid.to_numpy(),
        [bytes(m) for m in model],
        start.to_numpy(),
        end.to_numpy(),
        si.to_numpy(),
    )


def _make_udafs():
    """Grouped-agg pandas UDFs (created lazily: pandas_udf needs an
    active session to parse DDL return types)."""

    @pandas_udf("long")
    def count_s(start: pd.Series, end: pd.Series, si: pd.Series) -> int:
        # CountS.reduce (SparkUDAF.scala:39-41): (end - start) / si + 1
        return int(((end - start) // si + 1).sum())

    @pandas_udf("double")
    def min_s(mtid: pd.Series, model: pd.Series, start: pd.Series,
              end: pd.Series, si: pd.Series) -> float:
        _, mins, _, _ = _seg_agg_arrays(mtid, model, start, end, si)
        return float(mins.min()) if mins.size else None

    @pandas_udf("double")
    def max_s(mtid: pd.Series, model: pd.Series, start: pd.Series,
              end: pd.Series, si: pd.Series) -> float:
        _, _, maxs, _ = _seg_agg_arrays(mtid, model, start, end, si)
        return float(maxs.max()) if maxs.size else None

    @pandas_udf("double")
    def sum_s(mtid: pd.Series, model: pd.Series, start: pd.Series,
              end: pd.Series, si: pd.Series) -> float:
        _, _, _, sums = _seg_agg_arrays(mtid, model, start, end, si)
        # sequential fold over the (few) per-segment sums, matching the
        # scalar path's left-to-right accumulation
        return float(sum(sums.tolist()))

    @pandas_udf("double")
    def avg_s(mtid: pd.Series, model: pd.Series, start: pd.Series,
              end: pd.Series, si: pd.Series) -> float:
        counts, _, _, sums = _seg_agg_arrays(mtid, model, start, end, si)
        cnt = int(counts.sum())
        return float(sum(sums.tolist())) / cnt if cnt else None

    return count_s, min_s, max_s, sum_s, avg_s


def _make_seg_agg_udf():
    """Scalar (per-row) pandas UDF: one segment row -> its closed-form
    (cnt, vmin, vmax, vsum) partial. This is the map-side half of the
    decomposed *_S aggregates: built-in MIN/MAX/SUM merge the partials
    across segments, so Catalyst plans partial/final around the
    exchange exactly as for native aggregates."""

    @pandas_udf("cnt bigint, vmin double, vmax double, vsum double")
    def seg_agg(mtid: pd.Series, model: pd.Series, start: pd.Series,
                end: pd.Series, si: pd.Series) -> pd.DataFrame:
        counts, mins, maxs, sums = _seg_agg_arrays(mtid, model, start, end, si)
        return pd.DataFrame(
            {"cnt": counts, "vmin": mins, "vmax": maxs, "vsum": sums}
        )

    return seg_agg


def _split_top_args(argstr: str) -> list[str]:
    """Split a SQL argument list at top-level commas (nested calls like
    START_END(...).s keep their internal commas)."""
    args, depth, cur = [], 0, []
    for ch in argstr:
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        if ch == "," and depth == 0:
            args.append("".join(cur).strip())
            cur = []
        else:
            cur.append(ch)
    if cur:
        args.append("".join(cur).strip())
    return args


def decompose_segment_aggregates(sql: str) -> str:
    """Rewrite *_S aggregate calls into decomposable built-in
    aggregates over per-segment scalar partials (the reference plans
    its Aggregators partial/final, SparkUDAF.scala:37-51; this is the
    SQL-rewrite equivalent for the registered surface):

        COUNT_S(s, e, i)    -> SUM((e - s) DIV i + 1)       (pure SQL)
        MIN_S(args)         -> MIN(SEG_AGG(args).vmin)
        MAX_S(args)         -> MAX(SEG_AGG(args).vmax)
        SUM_S(args)         -> SUM(SEG_AGG(args).vsum)
        AVG_S(args)         -> SUM(.vsum) / SUM(.cnt)

    Only map-side partials cross the shuffle; a mega-series' segment
    rows never collapse onto one task (the complete-mode grouped-agg
    fallback would ship them all to one). Matches inside single-quoted
    string literals and `--` line comments are left untouched."""
    import re

    # mask of positions inside '...' literals ('' escapes) or -- comments
    in_lit = [False] * len(sql)
    i, q = 0, False
    while i < len(sql):
        ch = sql[i]
        if q:
            in_lit[i] = True
            if ch == "'":
                if i + 1 < len(sql) and sql[i + 1] == "'":
                    in_lit[i + 1] = True
                    i += 1
                else:
                    q = False
        elif ch == "'":
            in_lit[i] = True
            q = True
        elif ch == "-" and sql[i : i + 2] == "--":
            j = sql.find("\n", i)
            j = len(sql) if j == -1 else j
            for k in range(i, j):
                in_lit[k] = True
            i = j - 1 if j > i else i
        i += 1

    out = []
    pos = 0
    pat = re.compile(r"\b(COUNT_S|MIN_S|MAX_S|SUM_S|AVG_S)\s*\(")
    while True:
        m = pat.search(sql, pos)
        if not m:
            out.append(sql[pos:])
            return "".join(out)
        if in_lit[m.start()]:
            out.append(sql[pos : m.end()])
            pos = m.end()
            continue
        out.append(sql[pos : m.start()])
        # scan the balanced argument list
        depth, i = 1, m.end()
        while i < len(sql) and depth:
            if sql[i] == "(":
                depth += 1
            elif sql[i] == ")":
                depth -= 1
            i += 1
        inner = sql[m.end() : i - 1]
        fn = m.group(1)
        if fn == "COUNT_S":
            args = _split_top_args(inner)
            if len(args) != 3:
                raise ValueError(
                    f"COUNT_S takes (start_ms, end_ms, interval_ms); got "
                    f"{len(args)} argument(s): COUNT_S({inner})"
                )
            s, e, si = args
            out.append(f"SUM((({e}) - ({s})) DIV ({si}) + 1)")
        elif fn == "AVG_S":
            out.append(
                f"(SUM(SEG_AGG({inner}).vsum) / SUM(SEG_AGG({inner}).cnt))"
            )
        else:
            field = {"MIN_S": "vmin", "MAX_S": "vmax", "SUM_S": "vsum"}[fn]
            agg = {"MIN_S": "MIN", "MAX_S": "MAX", "SUM_S": "SUM"}[fn]
            out.append(f"{agg}(SEG_AGG({inner}).{field})")
        pos = i


#: the reference's `#` query sugar (engines/EngineUtilities.scala /
#: SparkUDAF usage): `AGG_S(#)` expands to the full segment column
#: list. Our per-series segment rows are self-describing, so the
#: expansion is the model-bearing column tuple.
_SUGAR_COUNT = "start_ms, end_ms, interval_ms"
_SUGAR_FULL = "mtid, model, start_ms, end_ms, interval_ms"


def expand_segment_sugar(sql: str) -> str:
    """Expand the reference's `#` argument sugar so queries like
    ``SELECT MIN_S(#) FROM segments`` run verbatim: `COUNT_S(#)` ->
    the (start, end, interval) triple; `MIN_S/MAX_S/SUM_S/AVG_S(#)` ->
    the full model-bearing column list (the reference expands `#` to
    the segment view's columns the same way)."""
    import re

    out = re.sub(r"\bCOUNT_S\s*\(\s*#\s*\)", f"COUNT_S({_SUGAR_COUNT})", sql)
    return re.sub(
        r"\b(MIN_S|MAX_S|SUM_S|AVG_S)\s*\(\s*#\s*\)",
        lambda m: f"{m.group(1)}({_SUGAR_FULL})",
        out,
    )


def segment_sql(spark: SparkSession, sql: str):
    """Run reference-style SQL over the registered views: expands the
    `#` sugar, decomposes the *_S aggregates into partial/final form,
    then delegates to spark.sql (functions and views must be registered
    first — register_views + register_sql_functions)."""
    return spark.sql(decompose_segment_aggregates(expand_segment_sugar(sql)))


def _make_decode_udf():
    """Pandas UDF: one segment row -> its full decoded float32 value
    array. Each Arrow batch decodes ``(p0, p1)`` from the model bytes
    (`model_params`) and runs the `segment_points` kernel once, for
    every model type."""
    import numpy as np

    from modelardb_spark.models.segment import model_params, segment_points

    @pandas_udf("array<float>")
    def decode_segment(mtid: pd.Series, model: pd.Series, start: pd.Series,
                       end: pd.Series, si: pd.Series) -> pd.Series:
        if len(mtid) == 0:
            return pd.Series([], dtype=object)
        models = [bytes(m) for m in model]
        p0, p1 = model_params(mtid.to_numpy(), models)
        seg = pd.DataFrame({"mtid": mtid.to_numpy(), "model": models,
                            "start_ms": start.to_numpy(), "end_ms": end.to_numpy(),
                            "interval_ms": si.to_numpy(), "p0": p0, "p1": p1})
        row, _, value = segment_points(seg)
        cuts = np.cumsum(np.bincount(row, minlength=len(seg)))[:-1]
        return pd.Series(np.split(value, cuts))

    return decode_segment


def register_point_function(spark: SparkSession, segment_view: str = "segments") -> None:
    """Register `DATA_POINTS(lo, hi)` — the reference's ViewDataPoint
    timestamp-predicate rewrite (ViewDataPoint.scala:47-78) as a SQL
    TABLE function: the point-time window becomes a segment-overlap
    predicate evaluated BEFORE any reconstruction (Catalyst pushes it
    into the segment scan), the grid indexes are clamped to the window
    (Segment.java:73-95 outward rounding -> only in-window points are
    ever generated), and every segment decodes through the vectorized
    DECODE_SEGMENT pandas UDF (the `segment_points` kernel) with the
    ORIGINAL segment start so the stream offsets stay correct (the
    reference's temporal-offset discipline)."""
    spark.udf.register("DECODE_SEGMENT", _make_decode_udf())
    spark.sql(
        f"""
        CREATE OR REPLACE TEMPORARY FUNCTION DATA_POINTS(lo BIGINT, hi BIGINT)
        RETURNS TABLE (conv_id STRING, metric STRING, bin_ms BIGINT, value FLOAT)
        RETURN
        SELECT conv_id, metric,
               start_ms + i * interval_ms AS bin_ms,
               vals[CAST(i AS INT)] AS value
        FROM (
          SELECT *,
                 DECODE_SEGMENT(mtid, model, start_ms, end_ms, interval_ms) AS vals,
                 GREATEST(0L, CAST(ceil((lo - start_ms) / CAST(interval_ms AS DOUBLE)) AS BIGINT)) AS i_lo,
                 LEAST((end_ms - start_ms) DIV interval_ms,
                       CAST(floor((hi - start_ms) / CAST(interval_ms AS DOUBLE)) AS BIGINT)) AS i_hi
          FROM {segment_view}
          WHERE end_ms >= lo AND start_ms <= hi
        ) LATERAL VIEW explode(
            CASE WHEN i_lo <= i_hi THEN sequence(i_lo, i_hi)
                 ELSE CAST(array() AS ARRAY<BIGINT>) END
          ) t AS i
        """
    )


def register_sql_functions(
    spark: SparkSession, segment_view: str = "segments"
) -> None:
    """Idempotently register the aggregate + restriction functions on
    the session. After this, reference-style SQL runs verbatim:

        SELECT MIN_S(mtid, model, start_ms, end_ms, interval_ms)
        FROM segments WHERE conv_id = '42'

        SELECT START_END(start_ms, end_ms, interval_ms, :lo, :hi).s
        FROM segments WHERE end_ms >= :lo AND start_ms <= :hi

    ORDERING: the DATA_POINTS table function's body references
    `segment_view` (default `segments`), so that view must be
    registered on this session FIRST — call
    `operators.views.register_views(spark, seg)` (or pass the name of
    an already-registered view) before this function, or DATA_POINTS
    can fail to analyze / bind to a stale view.
    """
    register_point_function(spark, segment_view)
    spark.udf.register("SEG_AGG", _make_seg_agg_udf())
    count_s, min_s, max_s, sum_s, avg_s = _make_udafs()
    spark.udf.register("COUNT_S", count_s)
    spark.udf.register("MIN_S", min_s)
    spark.udf.register("MAX_S", max_s)
    spark.udf.register("SUM_S", sum_s)
    spark.udf.register("AVG_S", avg_s)
    # Segment.java:73-84 — start rounds DOWN to the previous grid point
    # (diff = (new - start) % si; new - diff), no-op outside the segment
    spark.sql(
        """
        CREATE OR REPLACE TEMPORARY FUNCTION START(
            start_ms BIGINT, end_ms BIGINT, interval_ms BIGINT, new_start BIGINT)
        RETURNS BIGINT
        RETURN CASE WHEN new_start <= start_ms OR end_ms < new_start
                    THEN start_ms
                    ELSE new_start - ((new_start - start_ms) % interval_ms) END
        """
    )
    # Segment.java:86-95 — end rounds UP to the next grid point
    # (diff = (end - new) % si; new + diff), no-op outside the segment
    spark.sql(
        """
        CREATE OR REPLACE TEMPORARY FUNCTION END(
            start_ms BIGINT, end_ms BIGINT, interval_ms BIGINT, new_end BIGINT)
        RETURNS BIGINT
        RETURN CASE WHEN new_end < start_ms OR end_ms <= new_end
                    THEN end_ms
                    ELSE new_end + ((end_ms - new_end) % interval_ms) END
        """
    )
    spark.sql(
        """
        CREATE OR REPLACE TEMPORARY FUNCTION START_END(
            start_ms BIGINT, end_ms BIGINT, interval_ms BIGINT,
            new_start BIGINT, new_end BIGINT)
        RETURNS STRUCT<s: BIGINT, e: BIGINT>
        RETURN struct(
            CASE WHEN new_start <= start_ms OR end_ms < new_start
                 THEN start_ms
                 ELSE new_start - ((new_start - start_ms) % interval_ms) END AS s,
            CASE WHEN new_end < start_ms OR end_ms <= new_end
                 THEN end_ms
                 ELSE new_end + ((end_ms - new_end) % interval_ms) END AS e)
        """
    )
