"""`key_runs` is the one cross-batch stitcher behind every fit kernel
(and the LSH near-dup cell prefilter): a key run split across Arrow
batches must reach the per-run body whole. The unit tests pin the
re-cut on hand-built batches; the Spark test shrinks the Arrow batch
to a few rows so every fit entry point stitches runs across many
batches, and requires the same segment rows as at the default size."""

from __future__ import annotations

import pandas as pd
import pytest

from modelardb_spark.operators.fit import key_runs

KEYS = ["k1", "k2"]


def _batches(keys: list[tuple], sizes: list[int]) -> list[pd.DataFrame]:
    """Rows numbered 0.. with the given (k1, k2) keys, cut into
    consecutive batches of the given sizes (0 = an empty batch)."""
    pdf = pd.DataFrame(
        {
            "k1": [k[0] for k in keys],
            "k2": [k[1] for k in keys],
            "row": range(len(keys)),
        }
    )
    assert sum(sizes) == len(pdf)
    out, at = [], 0
    for n in sizes:
        out.append(pdf.iloc[at : at + n].reset_index(drop=True))
        at += n
    return out


def _cut(batches: list[pd.DataFrame]) -> list[list[int]]:
    return [f["row"].tolist() for f in key_runs(iter(batches), KEYS)]


def test_run_split_across_two_batches():
    keys = [("a", 0)] * 3 + [("b", 0)] * 2
    assert _cut(_batches(keys, [2, 3])) == [[0, 1, 2], [3, 4]]


def test_run_split_across_three_batches():
    keys = [("a", 0)] * 5 + [("b", 0)] + [("c", 0)] * 2
    assert _cut(_batches(keys, [2, 2, 2, 2])) == [[0, 1, 2, 3, 4], [5], [6, 7]]


def test_empty_batches_contribute_nothing():
    keys = [("a", 0)] * 3 + [("b", 0)] * 2
    assert _cut(_batches(keys, [0, 2, 0, 0, 3, 0])) == [[0, 1, 2], [3, 4]]
    assert _cut(_batches([], [0, 0])) == []
    assert _cut([]) == []


def test_single_run_is_one_frame():
    keys = [("a", 7)] * 6
    assert _cut(_batches(keys, [6])) == [[0, 1, 2, 3, 4, 5]]
    assert _cut(_batches(keys, [1, 2, 3])) == [[0, 1, 2, 3, 4, 5]]


@pytest.mark.parametrize(
    "keys",
    [
        [("a", 0), ("a", 0), ("b", 0), ("b", 0)],  # first key column
        [("a", 0), ("a", 0), ("a", 1), ("a", 1)],  # second key column
    ],
)
def test_key_change_on_each_column(keys):
    # a batch edge inside each run: only complete runs come out
    assert _cut(_batches(keys, [1, 2, 1])) == [[0, 1], [2, 3]]
    # a batch edge exactly on the run edge
    assert _cut(_batches(keys, [2, 2])) == [[0, 1], [2, 3]]


def test_frames_hold_whole_runs_and_every_row_once():
    """Many runs of mixed length in 3-row batches: every frame but
    the last ends where a run ends, and the frames concatenate back to
    the input in order."""
    keys = []
    for i, n in enumerate([1, 4, 2, 7, 1, 1, 3]):
        keys += [(f"c{i // 2}", i % 2)] * n
    sizes = [3] * (len(keys) // 3) + [len(keys) % 3]
    frames = list(key_runs(iter(_batches(keys, sizes)), KEYS))
    rows = [r for f in frames for r in f["row"].tolist()]
    assert rows == list(range(len(keys)))
    for f in frames[:-1]:
        last = f["row"].iloc[-1]
        assert keys[last] != keys[last + 1]


def _fit_rows(df) -> list[str]:
    # repr keeps NaN parameters comparable and model bytes exact
    return sorted(repr(r) for r in df.collect())


def test_small_arrow_batches_give_identical_segments(spark):
    """Every fit entry point at a 7-row Arrow batch (runs of hundreds
    of rows span many batches) emits exactly the rows it emits at the
    default batch size."""
    from modelardb_spark.operators.dimensions import conversation_dimensions
    from modelardb_spark.operators.dimgroup import (
        dim_group_members,
        fit_segments_dim_grouped,
        materialize_members,
    )
    from modelardb_spark.operators.fit import (
        fit_segments_from_transcripts,
        fit_segments_wide,
    )
    from modelardb_spark.operators.groupfit import fit_segments_grouped
    from modelardb_spark.operators.series import derive_series, derive_series_wide
    from modelardb_spark.operators.transcripts import synthetic_transcripts
    from tests.reference_oracle import fit_segments

    t = synthetic_transcripts(
        spark, n_convs=10, turns_per_conv=200, mega_convs=1, mega_factor=4
    ).cache()
    narrow = derive_series(t).cache()
    wide = derive_series_wide(t).cache()
    members = materialize_members(
        dim_group_members(narrow, conversation_dimensions(narrow), max_group_size=4)
    )
    fits = {
        "fit_segments": lambda: fit_segments(narrow),
        "fit_segments_wide": lambda: fit_segments_wide(wide),
        "fit_segments_from_transcripts": lambda: fit_segments_from_transcripts(t),
        "fit_segments_grouped": lambda: fit_segments_grouped(wide),
        "fit_segments_dim_grouped": lambda: fit_segments_dim_grouped(
            narrow, members
        ),
    }
    default = {name: _fit_rows(fit()) for name, fit in fits.items()}
    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    before = spark.conf.get(conf)
    spark.conf.set(conf, "7")
    try:
        small = {name: _fit_rows(fit()) for name, fit in fits.items()}
    finally:
        spark.conf.set(conf, before)
    assert all(default.values())
    assert [name for name in fits if small[name] != default[name]] == []
    for df in (t, narrow, wide):
        df.unpersist()
