"""TransformMethod parity: DIFFERENCE / NORMALIZE_DIFFERENCE in the drift
operator (pure-Python UDF-level tests — fast, no Spark)."""

from __future__ import annotations

import numpy as np
import pandas as pd

from random_cut_forest_by_aws_spark.operators.drift import DriftConfig, drift_group


def _run(cfg, X, seqs=None, key=("s", 0)):
    seqs = np.arange(len(X)) if seqs is None else np.asarray(seqs)
    return pd.DataFrame(drift_group(key, seqs, np.asarray(X, np.float64), cfg))


def _level_shift_series(n=8000, shift_at=4000, delta=5.0, seed=0):
    rng = np.random.default_rng(seed)
    X = rng.normal(0, 1, size=(n, 3))
    X[shift_at:] += delta
    return X


def test_difference_transform_absorbs_level_shift():
    X = _level_shift_series()
    kw = dict(num_trees=20, sample_size=64, chunk_size=512, buckets=1,
              window=64, min_baseline_windows=5, use_corrector=False)
    out_norm = _run(DriftConfig(**kw, transform="normalize"), X)
    out_diff = _run(DriftConfig(**kw, transform="normalize_difference"), X)
    w_norm = out_norm[out_norm.row_kind == "summary"]["n_drifted_windows"].iloc[0]
    w_diff = out_diff[out_diff.row_kind == "summary"]["n_drifted_windows"].iloc[0]
    # level shift: sustained drift under NORMALIZE; differencing absorbs
    # it after the single-step spike
    assert w_norm >= 2
    assert w_diff < w_norm


def test_plain_difference_transform_runs():
    X = _level_shift_series(n=3000, shift_at=1500)
    cfg = DriftConfig(num_trees=10, sample_size=32, chunk_size=256, buckets=1,
                      transform="difference", use_corrector=False)
    out = _run(cfg, X)
    s = out[out.row_kind == "summary"].iloc[0]
    assert s.n_scored > 2000


def test_difference_checkpoint_resume(tmp_path):
    X = _level_shift_series(n=4000, shift_at=2500, seed=3)
    kw = dict(num_trees=10, sample_size=32, chunk_size=512, buckets=1,
              window=32, min_baseline_windows=3,
              transform="normalize_difference", use_corrector=False)
    full = _run(DriftConfig(**kw), X)
    cfg_ck = DriftConfig(**kw, checkpoint_dir=str(tmp_path))
    _run(cfg_ck, X[:1700], seqs=np.arange(1700))
    resumed = _run(cfg_ck, X)
    f_sum = full[full.row_kind == "summary"].iloc[0]
    r_sum = resumed[resumed.row_kind == "summary"].iloc[0]
    assert f_sum.n_scored == r_sum.n_scored
    assert f_sum.n_anomalous == r_sum.n_anomalous
    assert f_sum.n_drifted_windows == r_sum.n_drifted_windows
    f_an = full[(full.row_kind == "anomaly") & (full.seq >= 1700)]
    r_an = resumed[resumed.row_kind == "anomaly"]
    np.testing.assert_array_equal(
        f_an.sort_values("seq")["score"].values,
        r_an[r_an.seq >= 1700].sort_values("seq")["score"].values,
    )
