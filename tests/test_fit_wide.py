"""fit_segments_wide and the fused fit must produce exactly the same
segment rows as the narrow reference fit (reference_oracle.fit_segments)
on the unpivoted series."""

from __future__ import annotations

import pytest

from modelardb_spark.config import EngineConfig
from modelardb_spark.operators.fit import (
    fit_segments_from_transcripts,
    fit_segments_wide,
)
from modelardb_spark.operators.series import derive_series, derive_series_wide
from modelardb_spark.operators.transcripts import (
    synthetic_transcripts,
    transcripts_from_events,
)
from tests.reference_oracle import fit_segments


def _rows(df):
    return sorted(
        (
            r["conv_id"], r["metric"], r["start_ms"], r["end_ms"], r["mtid"],
            bytes(r["model"]), r["n"], r["seg_cnt"], r["seg_min"], r["seg_max"],
            r["seg_sum"],
        )
        for r in df.collect()
    )


@pytest.mark.parametrize("error_bound", [0.0, 5.0])
def test_wide_equals_narrow(spark, error_bound):
    cfg = EngineConfig(error_bound=error_bound)
    t = synthetic_transcripts(
        spark, n_convs=12, turns_per_conv=300, mega_convs=1, mega_factor=4
    ).cache()
    narrow = fit_segments(derive_series(t, cfg), cfg)
    wide = fit_segments_wide(derive_series_wide(t, cfg), cfg)
    fused = fit_segments_from_transcripts(t, cfg)
    assert _rows(wide) == _rows(narrow)
    # the FUSED derive+fit (one shuffle, per-bin aggregation inside the
    # kernel) must emit exactly the same segment rows
    assert _rows(fused) == _rows(narrow)
    t.unpersist()


def test_fused_equals_two_step_on_events(spark, sf_small):
    t = transcripts_from_events(spark, sf_small).cache()
    assert _rows(fit_segments_from_transcripts(t)) == _rows(
        fit_segments_wide(derive_series_wide(t))
    )
    t.unpersist()
