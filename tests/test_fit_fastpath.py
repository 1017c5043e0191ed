"""The vectorized batch-fit in operators/fit.py (single-point runs ->
Gorilla, constant runs -> PMC, cross-batch group stitching) must be
bit-identical to the plain per-run cascade output."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from modelardb_spark.models import fit_run
from modelardb_spark.models.pmc_mean import pmc_value
from modelardb_spark.operators.fit import _fit_runs_wide, key_runs
from tests.reference_oracle import segment_agg

INTERVAL = 60_000
DAY = 86_400_000


def _naive(ts, vals, conv, bound=0.0, length_bound=50):
    """Reference result: per (conv, salt) group, split runs on gaps,
    run the plain cascade."""
    rows = []
    df = pd.DataFrame({"c": conv, "t": ts, "v": vals})
    df = df[~np.isnan(df["v"])]
    df["salt"] = df["t"] // DAY
    for (c, _s), g in df.groupby(["c", "salt"], sort=True):
        g = g.sort_values("t")
        gt = g["t"].to_numpy().astype(np.int64)
        gv = g["v"].to_numpy().astype(np.float32)
        cuts = np.flatnonzero(np.diff(gt) > INTERVAL) + 1
        for rt, rv in zip(np.split(gt, cuts), np.split(gv, cuts)):
            for seg in fit_run(rt, rv, bound, length_bound):
                cnt, lo, hi, total = segment_agg(
                    seg.mtid, seg.model, seg.start_ms, seg.end_ms, INTERVAL
                )
                rows.append(
                    (c, seg.start_ms, seg.end_ms, seg.mtid, bytes(seg.model),
                     seg.n, cnt, np.float32(lo), np.float32(hi), float(total))
                )
    return sorted(rows)


def _run_batches(pdf, bound=0.0, batch_size=None):
    pdf = pdf.sort_values(["conv_id", "salt", "bin_ms"]).reset_index(drop=True)
    fit = _fit_runs_wide(("value",), bound, 50, INTERVAL)
    if batch_size is None:
        batches = [pdf]
    else:
        batches = [
            pdf.iloc[i : i + batch_size].reset_index(drop=True)
            for i in range(0, len(pdf), batch_size)
        ]
    runs = key_runs(iter(batches), ["conv_id", "salt"])
    outs = [df for run in runs for df in fit(run)]
    return pd.concat(outs, ignore_index=True) if outs else pd.DataFrame()


def _mk_input(bound_seed=5):
    rng = np.random.default_rng(bound_seed)
    frames = []
    for ci in range(6):
        ts_parts, v_parts = [], []
        cur = 1_700_000_000_000 + ci * 37 * 60_000
        for kind in ["single", "const", "linear", "noise", "single", "const"]:
            if kind == "single":
                n, v = 1, rng.normal(10, 3, 1).astype(np.float32)
            elif kind == "const":
                n = int(rng.integers(2, 80))
                v = np.full(n, float(rng.integers(1, 9)), dtype=np.float32)
            elif kind == "linear":
                n = int(rng.integers(5, 60))
                v = (np.arange(n) * 0.5 + 3).astype(np.float32)
            else:
                n = int(rng.integers(5, 120))
                v = rng.normal(0, 50, n).astype(np.float32)
            ts_parts.append(cur + INTERVAL * np.arange(n, dtype=np.int64))
            v_parts.append(v)
            cur = int(ts_parts[-1][-1]) + INTERVAL * int(rng.integers(5, 50))
        frames.append(
            pd.DataFrame(
                {
                    "conv_id": f"conv-{ci}",
                    "metric": "turn_rate",
                    "bin_ms": np.concatenate(ts_parts),
                    "value": np.concatenate(v_parts),
                }
            )
        )
    pdf = pd.concat(frames, ignore_index=True)
    pdf["salt"] = pdf["bin_ms"] // DAY
    return pdf


@pytest.mark.parametrize("bound", [0.0, 5.0])
@pytest.mark.parametrize("batch_size", [None, 97, 13])
def test_batch_fit_equals_cascade(bound, batch_size):
    pdf = _mk_input()
    got_df = _run_batches(pdf, bound, batch_size)
    got = sorted(
        (r.conv_id, int(r.start_ms), int(r.end_ms), int(r.mtid), bytes(r.model),
         int(r.n), int(r.seg_cnt), np.float32(r.seg_min), np.float32(r.seg_max),
         float(r.seg_sum))
        for r in got_df.itertuples(index=False)
    )
    want = _naive(
        pdf["bin_ms"].to_numpy(), pdf["value"].to_numpy(),
        pdf["conv_id"].to_numpy(), bound,
    )
    assert got == want
    # coverage: total points preserved
    assert sum(r[6] for r in got) == len(pdf)


def test_fastpath_params_match_model():
    pdf = pd.DataFrame(
        {
            "conv_id": "c",
            "metric": "m",
            "bin_ms": INTERVAL * np.arange(10, dtype=np.int64),
            "value": np.full(10, 7.0, dtype=np.float32),
        }
    )
    pdf["salt"] = pdf["bin_ms"] // DAY
    out = _run_batches(pdf)
    assert len(out) == 1
    row = out.iloc[0]
    assert row.mtid == 2
    assert pmc_value(bytes(row.model)) == 7.0
    assert row.p0 == 7.0 and np.isnan(row.p1)


def test_salt_bounds_fit_units():
    """A run crossing midnight is split at the salt boundary."""
    n = 3000  # spans >2 days at 1/min
    pdf = pd.DataFrame(
        {
            "conv_id": "mega",
            "metric": "m",
            "bin_ms": INTERVAL * np.arange(n, dtype=np.int64),
            "value": np.full(n, 1.0, dtype=np.float32),
        }
    )
    pdf["salt"] = pdf["bin_ms"] // DAY
    out = _run_batches(pdf)
    assert len(out) == 3  # one PMC segment per day
    assert (out["end_ms"] // DAY == out["start_ms"] // DAY).all()
    assert out["seg_cnt"].sum() == n
