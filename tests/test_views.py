"""Two-view SQL surface: ad-hoc Spark SQL over segments/data_points
must agree with the raw series."""

from __future__ import annotations

from pyspark.sql import functions as F

from modelardb_spark.operators.series import derive_series
from modelardb_spark.operators.transcripts import synthetic_transcripts
from modelardb_spark.operators.views import register_views
from tests.reference_oracle import fit_segments


def test_sql_over_views(spark):
    t = synthetic_transcripts(spark, n_convs=8, turns_per_conv=200, mega_convs=0)
    series = derive_series(t).cache()
    register_views(spark, fit_segments(series))

    # aggregate on the segment view without reconstruction
    seg_cnt = spark.sql(
        "SELECT SUM(seg_cnt) FROM segments WHERE metric = 'turn_rate'"
    ).first()[0]
    raw_cnt = series.where("metric = 'turn_rate'").count()
    assert seg_cnt == raw_cnt

    # arbitrary SQL over the point view (window fn + having)
    got = spark.sql(
        """
        SELECT conv_id, COUNT(*) AS bins, AVG(value) AS m
        FROM data_points WHERE metric = 'turn_rate'
        GROUP BY conv_id HAVING COUNT(*) > 10 ORDER BY conv_id
        """
    ).collect()
    want = (
        series.where("metric = 'turn_rate'")
        .groupBy("conv_id")
        .agg(F.count("*").alias("bins"), F.avg("value").alias("m"))
        .where("bins > 10")
        .orderBy("conv_id")
        .collect()
    )
    assert [(r["conv_id"], r["bins"]) for r in got] == [
        (r["conv_id"], r["bins"]) for r in want
    ]
    for g, w in zip(got, want):
        assert abs(g["m"] - w["m"]) < 1e-9

    # join the point view against an external dimension table
    dims = spark.createDataFrame(
        [(f"conv-{i}", "team-a" if i % 2 == 0 else "team-b") for i in range(8)],
        ["conv_id", "team"],
    )
    dims.createOrReplaceTempView("conv_dims")
    by_team = spark.sql(
        """
        SELECT d.team, SUM(p.value) AS turns
        FROM data_points p JOIN conv_dims d USING (conv_id)
        WHERE p.metric = 'turn_rate' GROUP BY d.team
        """
    ).collect()
    assert len(by_team) == 2
    assert sum(r["turns"] for r in by_team) == raw_series_total(series)
    series.unpersist()


def raw_series_total(series):
    return (
        series.where("metric = 'turn_rate'")
        .agg(F.sum(F.col("value").cast("double")))
        .first()[0]
    )


def test_registered_sql_function_surface(spark):
    """COUNT_S/MIN_S/MAX_S/SUM_S/AVG_S + START/END/START_END run as
    verbatim SQL and agree with the raw series (reference
    SparkUDAF.scala:346-426 surface)."""
    from modelardb_spark.operators.sqlfunctions import register_sql_functions

    t = synthetic_transcripts(spark, n_convs=6, turns_per_conv=150, mega_convs=0)
    series = derive_series(t).cache()
    register_views(spark, fit_segments(series))
    register_sql_functions(spark)

    got = {
        (r["conv_id"], r["metric"]): r
        for r in spark.sql(
            """
            SELECT conv_id, metric,
                   COUNT_S(start_ms, end_ms, interval_ms) AS cnt,
                   MIN_S(mtid, model, start_ms, end_ms, interval_ms) AS vmin,
                   MAX_S(mtid, model, start_ms, end_ms, interval_ms) AS vmax,
                   SUM_S(mtid, model, start_ms, end_ms, interval_ms) AS vsum,
                   AVG_S(mtid, model, start_ms, end_ms, interval_ms) AS mean
            FROM segments GROUP BY conv_id, metric
            """
        ).collect()
    }
    want = {
        (r["conv_id"], r["metric"]): r
        for r in series.groupBy("conv_id", "metric")
        .agg(
            F.count("*").alias("cnt"),
            F.min("value").alias("vmin"),
            F.max("value").alias("vmax"),
            F.sum(F.col("value").cast("double")).alias("vsum"),
        )
        .collect()
    }
    assert set(got) == set(want)
    for k, w in want.items():
        g = got[k]
        assert g["cnt"] == w["cnt"]
        assert g["vmin"] == w["vmin"] and g["vmax"] == w["vmax"]
        assert abs(g["vsum"] - w["vsum"]) < 1e-6
        assert abs(g["mean"] - w["vsum"] / w["cnt"]) < 1e-9

    # restriction functions: outward grid rounding (Segment.java:73-95)
    row = spark.sql(
        """
        SELECT START(0, 600000, 60000, 130000) AS s,
               END(0, 600000, 60000, 130000) AS e,
               START_END(0, 600000, 60000, 130000, 470000) AS se
        """
    ).first()
    assert row["s"] == 120000  # rounds DOWN to the grid
    assert row["e"] == 180000  # rounds UP to the grid
    assert row["se"]["s"] == 120000 and row["se"]["e"] == 480000
    # no-op outside the segment bounds
    row = spark.sql(
        "SELECT START(60000, 600000, 60000, 0) AS s, END(60000, 600000, 60000, 999999999) AS e"
    ).first()
    assert row["s"] == 60000 and row["e"] == 600000


def test_segment_sugar_expansion(spark):
    """The reference's `#` sugar: COUNT_S(#) / MIN_S(#) run verbatim."""
    from modelardb_spark.operators.sqlfunctions import (
        expand_segment_sugar,
        register_sql_functions,
        segment_sql,
    )

    assert (
        expand_segment_sugar("SELECT COUNT_S(#) FROM segments")
        == "SELECT COUNT_S(start_ms, end_ms, interval_ms) FROM segments"
    )
    assert "MIN_S(mtid, model, start_ms, end_ms, interval_ms)" in expand_segment_sugar(
        "SELECT MIN_S( # ) FROM segments"
    )

    t = synthetic_transcripts(spark, n_convs=4, turns_per_conv=100, mega_convs=0)
    series = derive_series(t).cache()
    register_views(spark, fit_segments(series))
    register_sql_functions(spark)
    row = segment_sql(
        spark,
        "SELECT COUNT_S(#) AS cnt, MIN_S(#) AS vmin, MAX_S(#) AS vmax FROM segments",
    ).first()
    assert row["cnt"] == series.count()
    want = series.agg(F.min("value"), F.max("value")).first()
    assert row["vmin"] == want[0] and row["vmax"] == want[1]


def test_decompose_skips_literals_and_validates_arity():
    """The *_S rewrite must leave string literals and -- comments
    untouched, and refuse a malformed COUNT_S arity with a clear
    error instead of a bare unpack crash."""
    import pytest

    from modelardb_spark.operators.sqlfunctions import (
        decompose_segment_aggregates,
    )

    sql = "SELECT 'COUNT_S(x)' AS doc, MIN_S(a, b, c, d, e) AS m FROM t"
    out = decompose_segment_aggregates(sql)
    assert "'COUNT_S(x)'" in out  # literal untouched
    assert "MIN(SEG_AGG(a, b, c, d, e).vmin)" in out
    commented = "SELECT 1 -- COUNT_S(broken\nFROM t"
    assert decompose_segment_aggregates(commented) == commented
    with pytest.raises(ValueError, match="COUNT_S takes"):
        decompose_segment_aggregates("SELECT COUNT_S(a, b) FROM t")
    # quote-escaped literal ('' inside '...') stays a literal
    s2 = "SELECT 'it''s SUM_S(x)' FROM t"
    assert decompose_segment_aggregates(s2) == s2
