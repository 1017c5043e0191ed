"""Declarative TOML config (the modelardb.conf + Main.scala surface):
one file drives ingest, the query session (with derived-series
clauses), and transfer — no Python required of the operator."""

from __future__ import annotations

import subprocess
import sys

import pytest
from pyspark.sql import functions as F

from modelardb_spark.config import EngineConfig
from modelardb_spark.config_file import (
    derived_clauses,
    engine_config,
    load_config,
    prepare_query_session,
    run_ingest,
    run_transfer,
)


def _write(tmp_path, text: str) -> str:
    p = tmp_path / "engine.toml"
    p.write_text(text)
    return str(p)


def test_engine_section_maps_and_validates(tmp_path):
    conf = load_config(_write(tmp_path, """
[engine]
error_bound = 5.0
length_bound = 40
metrics = ["turn_rate", "tool_usage"]
models = ["pmc_mean", "swing", "gorilla", "uncompressed"]
"""))
    cfg = engine_config(conf)
    assert cfg == EngineConfig(error_bound=5.0, length_bound=40)
    # reordered cascade refused (storage contract)
    with pytest.raises(ValueError, match="cascade order"):
        engine_config({"engine": {"models": ["swing", "pmc_mean"]}})
    # typoed knob refused, never silently defaulted
    with pytest.raises(ValueError, match="unknown"):
        engine_config({"engine": {"error_bond": 1.0}})


@pytest.mark.parametrize(
    "metrics",
    [["turn_rate"], ["tool_usage", "turn_rate"], ["turn_rate", "tool_usage", "x"], []],
)
def test_engine_metrics_other_than_the_derived_pair_refused(metrics):
    """Every fit derives exactly METRICS, so [engine] metrics may
    restate that list but not narrow, reorder or extend it."""
    with pytest.raises(ValueError, match="engine.metrics"):
        engine_config({"engine": {"metrics": metrics}})


def _derived_conf(tmp_path, sf_dir: str, error_bound: float) -> dict:
    """Two [derived] clauses; `ln(value)` is null wherever a bin has no
    tool call, so the derived series has holes the base one has not."""
    return load_config(_write(tmp_path, f"""
[engine]
error_bound = {error_bound}

[derived.turn_rate_x10]
source = "turn_rate"
expr = "cast(value as double) * 10.0"

[derived.tool_usage_ln]
source = "tool_usage"
expr = "ln(value)"

[query_server]
events = "{sf_dir}/events.parquet"
"""))


def test_derived_session_scans_events_once_and_fits_once(spark, sf_small, tmp_path):
    """Base and derived series come from one events scan and one fit."""
    spark.catalog.clearCache()
    seg = prepare_query_session(spark, _derived_conf(tmp_path, sf_small, 0.0))
    plan = seg._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FileScan parquet") == 1, plan
    assert plan.count("MapInPandas") == 1, plan


@pytest.mark.parametrize("error_bound", [0.0, 5.0])
def test_derived_segments_equal_narrow_reference(spark, sf_small, tmp_path, error_bound):
    """The session's one wide fit returns the rows of the narrow
    reference fit over `derive_value_series`, base and derived."""
    from modelardb_spark.operators.series import derive_series
    from modelardb_spark.operators.transcripts import transcripts_from_events
    from modelardb_spark.operators.transform import derive_value_series
    from tests.reference_oracle import fit_segments

    conf = _derived_conf(tmp_path, sf_small, error_bound)
    cfg = engine_config(conf)
    series = derive_series(transcripts_from_events(spark, sf_small), cfg)
    want = fit_segments(derive_value_series(series, derived_clauses(conf)), cfg)
    got = prepare_query_session(spark, conf)

    def rows(df):
        return sorted(repr(tuple(r)) for r in df.collect())

    assert rows(got) == rows(want)
    points = dict(got.groupBy("metric").agg(F.sum("seg_cnt")).collect())
    assert points["turn_rate_x10"] == points["turn_rate"]
    assert 0 < points["tool_usage_ln"] < points["tool_usage"]


def test_config_drives_ingest_query_and_transfer(spark, sf_small, tmp_path):
    out = tmp_path / "mdb"
    cloud = tmp_path / "cloud"
    conf = load_config(_write(tmp_path, f"""
[engine]
error_bound = 0.0

[ingest]
events = "{sf_small}/events.parquet"
out = "{out}"
snapshot_id = "cfg-1"
chunk_days = 64

[derived.turn_rate_x10]
source = "turn_rate"
expr = "cast(value as double) * 10.0"

[query_server]
events = "{sf_small}/events.parquet"
mode = "sql"
sql = "SELECT COUNT_S(#) AS cnt FROM segments"

[transfer]
src = "{out}"
dst = "{cloud}"
"""))
    m = run_ingest(spark, conf)
    assert m["segments_written"] > 0
    assert (out / "segments").exists() and (out / "rollup_1h").exists()

    # query session: derived clause adds fitted turn_rate_x10 segments
    assert derived_clauses(conf) == {
        "turn_rate_x10": ("turn_rate", "cast(value as double) * 10.0")
    }
    seg = prepare_query_session(spark, conf)
    metrics = {r[0] for r in seg.select("metric").distinct().collect()}
    assert metrics == {"turn_rate", "tool_usage", "turn_rate_x10"}
    # and the registered SQL surface answers over the union
    got = spark.sql(
        "SELECT COUNT(*) FROM segments WHERE metric = 'turn_rate_x10'"
    ).first()[0]
    assert got > 0

    mt = run_transfer(spark, conf)
    assert mt["days_total"] > 0
    assert (cloud / "segments").exists()


def test_ingest_cli_runs_from_config_alone(sf_small, tmp_path):
    """The operator experience: `jobs/ingest.py --config engine.toml`
    with no other flags (Main.scala's one-file deployment)."""
    out = tmp_path / "cli_mdb"
    cfg = _write(tmp_path, f"""
[engine]
error_bound = 0.0

[ingest]
events = "{sf_small}/events.parquet"
out = "{out}"
chunk_days = 64
""")
    import os

    r = subprocess.run(
        [sys.executable, "-m", "modelardb_spark.jobs.ingest", "--config", cfg],
        capture_output=True, text=True, timeout=600,
        env=dict(os.environ, SPARK_GRAFT_CPUS="4"),
        cwd="/root/repo",
    )
    assert r.returncode == 0, r.stderr[-3000:]
    assert (out / "segments").exists() and (out / "rollup_1d").exists()


def test_engine_knobs_reach_query_session_fit(spark, sf_small, tmp_path):
    """Every [engine] knob governs the on-the-fly fit, not just
    error_bound: a non-default length_bound visibly changes the fitted
    segments (regression: prepare_query_session used to rebuild a
    default EngineConfig)."""
    conf = load_config(_write(tmp_path, f"""
[engine]
length_bound = 3

[query_server]
events = "{sf_small}/events.parquet"
"""))
    seg = prepare_query_session(spark, conf)
    from pyspark.sql import functions as F

    # with length_bound=3 no dense (Gorilla/raw) segment may exceed 3 points
    mx = seg.where(F.col("mtid").isin(1, 4)).agg(F.max("n")).first()[0]
    assert mx is not None and mx <= 3


def test_transfer_inherits_ingest_format(spark, sf_small, tmp_path):
    """[transfer] whose src is this config's own [ingest] output reads
    it with [ingest]'s format — one declaration drives both jobs."""
    out = tmp_path / "orc_mdb"
    cloud = tmp_path / "orc_cloud"
    conf = load_config(_write(tmp_path, f"""
[ingest]
events = "{sf_small}/events.parquet"
out = "{out}"
format = "orc"

[transfer]
src = "{out}"
dst = "{cloud}"
"""))
    run_ingest(spark, conf)
    m = run_transfer(spark, conf)
    assert m["days_total"] > 0 and (cloud / "segments").exists()


def test_dynamic_split_without_grouped_refuses(tmp_path):
    import pytest

    conf = load_config(_write(tmp_path, """
[ingest]
events = "/x/events.parquet"
out = "/x/out"
dynamic_split_fraction = 0.10
"""))
    with pytest.raises(ValueError, match="grouped"):
        run_ingest(None, conf)
