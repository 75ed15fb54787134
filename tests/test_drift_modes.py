"""ForestMode parity (config/ForestMode.java): TIME_AUGMENTED and
STREAMING_IMPUTE + ImputationMethod, plus the WEIGHTED / SUBTRACT_MA
transforms (TransformMethod parity). UDF-level tests — fast, no Spark."""

from __future__ import annotations

import numpy as np
import pandas as pd

from random_cut_forest_by_aws_spark.operators.drift import DriftConfig, drift_group


def _run(cfg, X, seqs=None, key=("s", 0)):
    seqs = np.arange(len(X)) if seqs is None else np.asarray(seqs)
    return pd.DataFrame(drift_group(key, seqs, np.asarray(X, np.float64), cfg))


BASE_KW = dict(num_trees=10, sample_size=32, chunk_size=256, buckets=1,
               window=32, min_baseline_windows=3, use_corrector=False)


# --------------------------------------------------------------------- #
# transforms
# --------------------------------------------------------------------- #
def test_weighted_transform_equals_prescaled_input():
    """WEIGHTED == running NONE on x*w: same forest seed ⇒ identical
    scores, anomalies and summary (WeightedTransformer.java:44,174)."""
    rng = np.random.default_rng(5)
    X = rng.normal(0, 1, size=(2000, 3))
    w = (2.0, 0.5, 1.0)
    out_w = _run(DriftConfig(**BASE_KW, transform="weighted", transform_weights=w), X)
    out_pre = _run(DriftConfig(**BASE_KW, transform="none"),
                   X * np.asarray(w))
    sw = out_w[out_w.row_kind == "summary"].iloc[0]
    sp = out_pre[out_pre.row_kind == "summary"].iloc[0]
    assert sw.n_scored == sp.n_scored
    assert sw.n_anomalous == sp.n_anomalous
    assert abs(sw.mean_score - sp.mean_score) < 1e-12
    aw = out_w[out_w.row_kind == "anomaly"].sort_values("seq")
    ap = out_pre[out_pre.row_kind == "anomaly"].sort_values("seq")
    np.testing.assert_array_equal(aw["seq"].values, ap["seq"].values)
    np.testing.assert_allclose(aw["score"].values, ap["score"].values, rtol=0, atol=0)


def test_subtract_ma_absorbs_level_shift():
    """SUBTRACT_MA with a discounted MA adapts to a level shift, where
    NORMALIZE with cumulative stats keeps flagging it
    (SubtractMATransformer.java)."""
    rng = np.random.default_rng(0)
    X = rng.normal(0, 1, size=(8000, 3))
    X[4000:] += 5.0
    kw = dict(num_trees=20, sample_size=64, chunk_size=512, buckets=1,
              window=64, min_baseline_windows=5, use_corrector=False)
    out_norm = _run(DriftConfig(**kw, transform="normalize"), X)
    out_sub = _run(DriftConfig(**kw, transform="subtract_ma", norm_discount=0.05), X)
    w_norm = out_norm[out_norm.row_kind == "summary"]["n_drifted_windows"].iloc[0]
    w_sub = out_sub[out_sub.row_kind == "summary"]["n_drifted_windows"].iloc[0]
    assert w_norm >= 2
    assert w_sub < w_norm


# --------------------------------------------------------------------- #
# STREAMING_IMPUTE
# --------------------------------------------------------------------- #
def _gapped(n=2000, gaps=((800, 10), (1500, 21)), seed=1):
    """Stationary series with seq-grid gaps of known sizes."""
    rng = np.random.default_rng(seed)
    X = rng.normal(0, 1, size=(n, 3))
    seqs = np.arange(n)
    drop = np.zeros(n, bool)
    for start, width in gaps:
        drop[start:start + width] = True
    return X[~drop], seqs[~drop], int(drop.sum()), set(seqs[drop].tolist())


def test_streaming_impute_counts_and_no_imputed_anomalies():
    X, seqs, n_gap, gap_seqs = _gapped()
    for method in ["zero", "previous", "next", "linear"]:
        cfg = DriftConfig(**BASE_KW, mode="streaming_impute",
                          impute_method=method)
        out = _run(cfg, X, seqs=seqs)
        s = out[out.row_kind == "summary"].iloc[0]
        assert s.n_imputed == n_gap, method
        assert s.n_rows == len(X) + n_gap, method
        # imputed grid positions never emit anomaly rows
        emitted = set(out[out.row_kind == "anomaly"]["seq"].tolist())
        assert not (emitted & gap_seqs), method


def test_streaming_impute_linear_on_ramp_is_seamless():
    """On a deterministic ramp, LINEAR reconstructs the gap exactly, so
    post-gap scores look like the uninterrupted stream's."""
    n = 3000
    t = np.arange(n, dtype=np.float64)
    X = np.stack([np.sin(t / 50), np.cos(t / 50), t / n], axis=1)
    keep = np.ones(n, bool)
    keep[1200:1240] = False
    cfg = DriftConfig(**BASE_KW, mode="streaming_impute", impute_method="linear")
    out = _run(cfg, X[keep], seqs=np.arange(n)[keep])
    s = out[out.row_kind == "summary"].iloc[0]
    assert s.n_imputed == 40
    # no anomaly burst at the gap edge
    an = out[out.row_kind == "anomaly"]["seq"]
    assert not ((an >= 1190) & (an <= 1260)).any()


def test_streaming_impute_gap_cap_and_fraction_gate():
    X, seqs, _, _ = _gapped(n=2000, gaps=((1000, 500),))
    cfg = DriftConfig(**BASE_KW, mode="streaming_impute",
                      impute_method="previous", max_gap_fill=64)
    out = _run(cfg, X, seqs=seqs)
    s = out[out.row_kind == "summary"].iloc[0]
    assert s.n_imputed == 64  # capped, not 500


def test_streaming_impute_rcf_method_runs():
    X, seqs, n_gap, _ = _gapped()
    cfg = DriftConfig(**BASE_KW, mode="streaming_impute", impute_method="rcf")
    out = _run(cfg, X, seqs=seqs)
    s = out[out.row_kind == "summary"].iloc[0]
    assert s.n_imputed == n_gap
    assert s.n_scored > 1500


def test_streaming_impute_checkpoint_resume_bit_exact(tmp_path):
    """Gaps crossing the resume boundary must fill exactly as an
    uninterrupted run (anchor = last processed seq/value)."""
    X, seqs, n_gap, _ = _gapped(n=4000, gaps=((900, 15), (2100, 30)), seed=3)
    kw = dict(**BASE_KW, mode="streaming_impute", impute_method="linear")
    full = _run(DriftConfig(**kw), X, seqs=seqs)
    cfg_ck = DriftConfig(**kw, checkpoint_dir=str(tmp_path))
    cut = np.searchsorted(seqs, 2110)  # mid-gap region
    _run(cfg_ck, X[:cut], seqs=seqs[:cut])
    resumed = _run(cfg_ck, X, seqs=seqs)
    f_sum = full[full.row_kind == "summary"].iloc[0]
    r_sum = resumed[resumed.row_kind == "summary"].iloc[0]
    assert f_sum.n_rows == r_sum.n_rows
    assert f_sum.n_imputed == r_sum.n_imputed
    assert f_sum.n_scored == r_sum.n_scored
    assert f_sum.n_anomalous == r_sum.n_anomalous
    assert abs(f_sum.mean_score - r_sum.mean_score) < 1e-12


# --------------------------------------------------------------------- #
# TIME_AUGMENTED
# --------------------------------------------------------------------- #
def test_time_augmented_flags_cadence_shift():
    """Constant features, cadence 10 → 1 at midpoint: STANDARD sees
    nothing; TIME_AUGMENTED (gap appended as a dimension) must flag it."""
    n = 4000
    X = np.tile([1.0, 2.0], (n, 1))
    seqs = np.concatenate([np.arange(0, 20000, 10), 20000 + np.arange(n - 2000)])
    kw = dict(num_trees=10, sample_size=64, chunk_size=256, buckets=1,
              window=64, min_baseline_windows=3, use_corrector=False)
    std = _run(DriftConfig(**kw, mode="standard"), X, seqs=seqs)
    aug = _run(DriftConfig(**kw, mode="time_augmented"), X, seqs=seqs)
    w_std = std[std.row_kind == "summary"]["n_drifted_windows"].iloc[0]
    w_aug = aug[aug.row_kind == "summary"]["n_drifted_windows"].iloc[0]
    assert w_std == 0
    assert w_aug >= 1


# --------------------------------------------------------------------- #
# thresholder batching
# --------------------------------------------------------------------- #
def test_thresholder_batch_matches_sequential():
    """process_batch must reproduce sequential process() thresholds,
    grades and end state (up to fp reassociation)."""
    from random_cut_forest_by_aws_spark.core.thresholder import BasicThresholder

    rng = np.random.default_rng(11)
    scores = np.abs(rng.normal(1.0, 0.3, 5000))
    scores[rng.integers(0, 5000, 50)] += 2.5  # spikes exercise the grade path
    seq_th = BasicThresholder()
    bat_th = BasicThresholder()
    exp = np.array([seq_th.process(float(s)) for s in scores])
    got_t, got_g = bat_th.process_batch(scores)
    np.testing.assert_allclose(got_t, exp[:, 0], rtol=1e-9, atol=1e-12)
    # grades sit on a floor(t*20)/16 grid: fp reassociation can flip a
    # knife-edge row — allow a tiny number of grid-step differences
    diff = np.abs(got_g - exp[:, 1])
    assert (diff > 1e-9).sum() <= 2, f"{(diff > 1e-9).sum()} grade mismatches"
    for dev_s, dev_b in [(seq_th.primary, bat_th.primary),
                         (seq_th.secondary, bat_th.secondary),
                         (seq_th.threshold_dev, bat_th.threshold_dev)]:
        assert dev_s.count == dev_b.count
        np.testing.assert_allclose(
            [dev_s.sum, dev_s.sum_squared, dev_s.weight],
            [dev_b.sum, dev_b.sum_squared, dev_b.weight], rtol=1e-9)
    assert seq_th.count == bat_th.count
    assert seq_th.last_score == bat_th.last_score


def test_thresholder_batch_chunk_invariance():
    """Splitting a stream across multiple process_batch calls must give
    the same results as one call (state carries across blocks)."""
    from random_cut_forest_by_aws_spark.core.thresholder import BasicThresholder

    rng = np.random.default_rng(3)
    scores = np.abs(rng.normal(1.0, 0.4, 2000))
    one = BasicThresholder()
    t1, g1 = one.process_batch(scores)
    many = BasicThresholder()
    parts = [many.process_batch(scores[i:i + 333]) for i in range(0, 2000, 333)]
    t2 = np.concatenate([p[0] for p in parts])
    g2 = np.concatenate([p[1] for p in parts])
    np.testing.assert_allclose(t1, t2, rtol=1e-9)
    np.testing.assert_allclose(g1, g2, rtol=1e-9)


def test_streaming_impute_rcf_with_normalize_transform():
    """RCF imputation must operate in the forest's (transformed) space:
    with NORMALIZE active, imputed rows must not explode the stream
    (regression: forest-space values were written into the raw chunk and
    normalized a second time)."""
    X, seqs, n_gap, gap_seqs = _gapped()
    cfg = DriftConfig(**BASE_KW, mode="streaming_impute",
                      impute_method="rcf", transform="normalize")
    out = _run(cfg, X, seqs=seqs)
    s = out[out.row_kind == "summary"].iloc[0]
    assert s.n_imputed == n_gap
    # stationary stream: the gap must not trigger an anomaly burst after it
    an = out[out.row_kind == "anomaly"]["seq"]
    post_gap = sum(int(((an >= g) & (an <= g + 40)).sum()) for g in (810, 1521))
    assert post_gap <= 4  # no anomaly burst at the gap edges
    assert s.mean_score < 2.0  # no score explosion from double-transform


def test_time_augmented_incremental_resume_keeps_boundary_dt(tmp_path):
    """Feeding only NEW rows after a resume must not fabricate an
    expected_step dt at the boundary (regression: a cadence gap spanning
    the resume was invisible)."""
    kw = dict(num_trees=10, sample_size=32, chunk_size=64, buckets=1,
              window=32, min_baseline_windows=2, use_corrector=False,
              mode="time_augmented")
    X = np.tile([1.0, 2.0], (600, 1))
    seqs = np.arange(600)
    cfg = DriftConfig(**kw, checkpoint_dir=str(tmp_path))
    _run(cfg, X[:300], seqs=seqs[:300])
    # incremental feed resumes AFTER a huge cadence gap (seq 299 -> 5000)
    X2 = np.tile([1.0, 2.0], (300, 1))
    out = _run(cfg, X2, seqs=np.arange(5000, 5300))
    # the boundary row's dt (4701) must register as a high-score anomaly
    an = out[out.row_kind == "anomaly"]
    assert (an["seq"] == 5000).any(), an.head()


def test_thresholder_batch_large_discount_matches_sequential():
    """Regression: fixed block size overflowed f^-j for non-tiny
    discounts; the block now adapts to the discount."""
    from random_cut_forest_by_aws_spark.core.thresholder import BasicThresholder

    rng = np.random.default_rng(5)
    scores = np.abs(rng.normal(1.0, 0.3, 1500))
    seq_th = BasicThresholder(discount=0.2)
    bat_th = BasicThresholder(discount=0.2)
    exp = np.array([seq_th.process(float(s)) for s in scores])
    got_t, got_g = bat_th.process_batch(scores)
    assert np.all(np.isfinite(got_t))
    np.testing.assert_allclose(got_t, exp[:, 0], rtol=1e-7)
    assert (np.abs(got_g - exp[:, 1]) > 1e-7).sum() <= 2


# --------------------------------------------------------------------- #
# SHINGLED streams (shingle_size > 1, slot-aware corrector)
# --------------------------------------------------------------------- #
def test_shingled_spike_alerts_once_with_slot_analysis():
    """shingle_size=4: a single-tick spike appears in 4 consecutive
    shingles, but the slot-aware corrector reports only the onset
    (ANOMALY_IN_SHINGLE suppression for the sliding copies,
    PredictorCorrector.java:795-905); without the corrector the same
    spike would alert on multiple overlapping shingles."""
    rng = np.random.default_rng(11)
    n = 4000
    X = rng.normal(0.0, 0.5, (n, 2))
    X[3500, 1] += 10.0
    kw = dict(num_trees=20, sample_size=64, chunk_size=256, buckets=1,
              window=64, min_baseline_windows=3, transform="none")
    out = _run(DriftConfig(**kw, shingle_size=4, use_corrector=True), X)
    spikes = out[(out.row_kind == "anomaly")
                 & (out.seq >= 3500) & (out.seq < 3504)]
    assert len(spikes) == 1 and int(spikes.iloc[0].seq) == 3500
    plain = _run(DriftConfig(**kw, shingle_size=4, use_corrector=False), X)
    p_spikes = plain[(plain.row_kind == "anomaly")
                     & (plain.seq >= 3500) & (plain.seq < 3504)]
    assert len(p_spikes) > 1  # the corrector is what de-duplicates


def test_shingled_checkpoint_resume_bit_exact(tmp_path):
    """shingle tail + slot-analysis state must round-trip through the
    checkpoint: resuming mid-stream reproduces the uninterrupted run."""
    rng = np.random.default_rng(13)
    n = 3000
    X = rng.normal(0.0, 0.5, (n, 2))
    X[2500, 0] += 9.0
    kw = dict(num_trees=10, sample_size=32, chunk_size=256, buckets=1,
              window=32, min_baseline_windows=3, shingle_size=4)
    full = _run(DriftConfig(**kw), X)
    cfg_ck = DriftConfig(**kw, checkpoint_dir=str(tmp_path))
    _run(cfg_ck, X[:1700])
    resumed = _run(cfg_ck, X)
    f_sum = full[full.row_kind == "summary"].iloc[0]
    r_sum = resumed[resumed.row_kind == "summary"].iloc[0]
    for c in ["n_rows", "n_scored", "n_anomalous", "n_windows"]:
        assert f_sum[c] == r_sum[c], c
    assert abs(f_sum.mean_score - r_sum.mean_score) < 1e-12
    fa = full[full.row_kind == "anomaly"].sort_values("seq")
    ra = resumed[resumed.row_kind == "anomaly"]
    ra = ra[ra.seq > 1700].sort_values("seq")
    fa_new = fa[fa.seq > 1700]
    np.testing.assert_array_equal(fa_new["seq"].values, ra["seq"].values)
    np.testing.assert_allclose(fa_new["score"].values, ra["score"].values,
                               rtol=0, atol=0)


# --------------------------------------------------------------------- #
# ScoringStrategy (distance / multi_mode)
# --------------------------------------------------------------------- #
def test_primary_process_batch_matches_scalar():
    """primary_process_batch == primary_threshold_and_grade-then-update2
    per row (the DISTANCE-mode inner loop), including committed state."""
    from random_cut_forest_by_aws_spark.core.thresholder import BasicThresholder

    rng = np.random.default_rng(3)
    scores = np.abs(rng.normal(1.0, 0.3, 500)) + 0.01
    a = BasicThresholder()
    b = BasicThresholder()
    thr_s, g_s = [], []
    prev = a.last_score
    for x in scores:
        t, g = a.primary_threshold_and_grade(float(x))
        a.update2(float(x), prev)
        a.last_score = float(x)
        prev = float(x)
        thr_s.append(t)
        g_s.append(g)
    thr_b, g_b = b.primary_process_batch(scores)
    np.testing.assert_allclose(thr_b, thr_s, rtol=1e-9, atol=1e-12)
    np.testing.assert_allclose(g_b, g_s, rtol=1e-9, atol=1e-12)
    np.testing.assert_allclose(
        [a.primary.sum, a.primary.weight, a.secondary.sum, a.threshold_dev.sum],
        [b.primary.sum, b.primary.weight, b.secondary.sum, b.threshold_dev.sum],
        rtol=1e-9,
    )


def test_distance_scoring_mode_flags_outlier():
    """ScoringStrategy.DISTANCE (populateScores:604-609): the directional-
    distance score replaces inverse depth; a far outlier still alerts."""
    rng = np.random.default_rng(9)
    X = rng.normal(0, 1, size=(4000, 3))
    X[3500] = [30.0, 30.0, 30.0]
    cfg = DriftConfig(**BASE_KW, scoring="distance", transform="none")
    out = _run(cfg, X)
    an = out[out.row_kind == "anomaly"]
    assert 3500 in set(an.seq)
    s = out[out.row_kind == "summary"].iloc[0]
    assert s.n_scored > 3000 and np.isfinite(s.mean_score)


def test_multi_mode_veto_reduces_false_positives():
    """MULTI_MODE (PredictorCorrector.java:785-792): the distance
    thresholder's second opinion can only REMOVE inverse-depth alerts,
    never add them; genuinely far outliers survive the veto."""
    rng = np.random.default_rng(11)
    X = rng.normal(0, 1, size=(5000, 3))
    spikes = [4200, 4600]
    for sp in spikes:
        X[sp] = [25.0, -25.0, 25.0]
    base = dict(**BASE_KW, transform="none")
    out_plain = _run(DriftConfig(**base), X)
    out_multi = _run(DriftConfig(**base, scoring="multi_mode"), X)
    a_plain = set(out_plain[out_plain.row_kind == "anomaly"].seq)
    a_multi = set(out_multi[out_multi.row_kind == "anomaly"].seq)
    assert a_multi <= a_plain  # veto only removes
    for sp in spikes:
        assert sp in a_multi  # real outliers survive


def test_multi_mode_checkpoint_resume(tmp_path):
    """The distance thresholder's state rides the checkpoint: resumed
    multi-mode run reproduces the uninterrupted one."""
    rng = np.random.default_rng(13)
    X = rng.normal(0, 1, size=(3000, 2))
    X[2500] = [20.0, -20.0]
    kw = dict(**BASE_KW, transform="none",
              scoring="multi_mode")
    full = _run(DriftConfig(**kw), X)
    cfg_ck = DriftConfig(**kw, checkpoint_dir=str(tmp_path))
    _run(cfg_ck, X[:1700])
    resumed = _run(cfg_ck, X)
    f_sum = full[full.row_kind == "summary"].iloc[0]
    r_sum = resumed[resumed.row_kind == "summary"].iloc[0]
    for c in ["n_rows", "n_scored", "n_anomalous"]:
        assert f_sum[c] == r_sum[c], c
    assert abs(f_sum.mean_score - r_sum.mean_score) < 1e-12


def test_multi_mode_recall_re_elevates():
    """MULTI_MODE_RECALL (ScoringStrategy.java:55-60; PredictorCorrector.
    java:809-820): primary emissions are untouched (no veto), and points
    the inverse-depth path grades 0 are re-elevated by the warm distance
    thresholder when the gap since the last significant anomaly >=
    shingle_size — the recall differential the other strategies miss.

    Geometry: two tight alternating clusters at ±10. Inverse-depth
    background scores are depth-noisy (cluster-edge points), so some
    genuinely far points stay under the primary threshold; the distance
    path (expected-point distances ≈ jitter for inliers) flags them."""
    rng = np.random.default_rng(33)
    n = 3000
    X = rng.normal(0, 0.2, size=(n, 2))
    X += np.where(np.arange(n) % 2 == 0, 1.0, -1.0)[:, None] * 10.0
    base = dict(**BASE_KW, transform="none")
    out_plain = _run(DriftConfig(**base), X)
    out_recall = _run(DriftConfig(**base, scoring="multi_mode_recall"), X)
    a_plain = set(out_plain[out_plain.row_kind == "anomaly"].seq)
    a_recall = set(out_recall[out_recall.row_kind == "anomaly"].seq)
    assert a_plain <= a_recall  # recall only ADDS alerts
    extra = a_recall - a_plain
    assert len(extra) >= 1  # inverse-depth missed, distance flagged
    # re-elevated rows carry the DISTANCE-path score/threshold (absolute
    # expected-point distances — far above inverse-depth's ~1 scale here)
    an = out_recall[out_recall.row_kind == "anomaly"]
    plain_scores = out_plain[out_plain.row_kind == "anomaly"].score
    assert an[an.seq.isin(extra)].score.min() > plain_scores.max()


def test_multi_mode_recall_checkpoint_resume(tmp_path):
    """rc_last_seq (the recall gap anchor) and the distance thresholder
    ride the checkpoint: a resumed recall run reproduces the
    uninterrupted one exactly."""
    rng = np.random.default_rng(33)
    n = 3000
    X = rng.normal(0, 0.2, size=(n, 2))
    X += np.where(np.arange(n) % 2 == 0, 1.0, -1.0)[:, None] * 10.0
    kw = dict(**BASE_KW, transform="none",
              scoring="multi_mode_recall")
    full = _run(DriftConfig(**kw), X)
    cfg_ck = DriftConfig(**kw, checkpoint_dir=str(tmp_path))
    _run(cfg_ck, X[:1700])
    resumed = _run(cfg_ck, X)
    f_an = full[full.row_kind == "anomaly"].sort_values("seq")
    r_an = resumed[resumed.row_kind == "anomaly"].sort_values("seq")
    f_sum = full[full.row_kind == "summary"].iloc[0]
    r_sum = resumed[resumed.row_kind == "summary"].iloc[0]
    for c in ["n_rows", "n_scored", "n_anomalous"]:
        assert f_sum[c] == r_sum[c], c
    assert abs(f_sum.mean_score - r_sum.mean_score) < 1e-12
    # emitted anomalies after the resume point match bit-exactly
    f_tail = f_an[f_an.seq >= 1700]
    r_tail = r_an[r_an.seq >= 1700]
    np.testing.assert_array_equal(f_tail["seq"].values, r_tail["seq"].values)
    np.testing.assert_allclose(f_tail["score"].values, r_tail["score"].values,
                               rtol=0, atol=0)


# --------------------------------------------------------------------- #
# round-4: vectorized gap-fill / EMA / zero-score guard / config guards
# --------------------------------------------------------------------- #
def _scalar_gap_fill(X, seqs, imputed, anchor_seq, anchor_x, fill_from, cfg):
    """Per-row reference loop for _gap_fill (the pre-round-4
    implementation), kept as the equivalence oracle."""
    step = cfg.expected_step
    prev_seq = anchor_seq
    prev_x = anchor_x
    out_X, out_seq, out_imp = [], [], []
    fixed = (
        np.asarray(cfg.impute_fixed, np.float64)
        if cfg.impute_fixed is not None
        else np.zeros(X.shape[1])
    )
    for i in range(len(X)):
        if i >= fill_from and prev_seq is not None:
            n_missing = int((seqs[i] - prev_seq) // step) - 1
            n_fill = min(max(n_missing, 0), cfg.max_gap_fill)
            for g in range(n_fill):
                gseq = int(prev_seq + (g + 1) * step)
                frac = (g + 1) / (n_missing + 1)
                m = cfg.impute_method
                if m == "zero":
                    val = np.zeros(X.shape[1])
                elif m == "fixed":
                    val = fixed
                elif m == "next":
                    val = X[i]
                elif m == "linear":
                    base = prev_x if prev_x is not None else X[i]
                    val = base + frac * (X[i] - base)
                else:
                    val = prev_x if prev_x is not None else X[i]
                out_X.append(np.asarray(val, np.float64))
                out_seq.append(gseq)
                out_imp.append(True)
        out_X.append(X[i])
        out_seq.append(int(seqs[i]))
        out_imp.append(bool(imputed[i]))
        prev_seq, prev_x = int(seqs[i]), X[i]
    if not out_X:
        return X, seqs, imputed
    return np.stack(out_X), np.asarray(out_seq, np.int64), np.asarray(out_imp, bool)


def test_gap_fill_vectorized_matches_scalar_reference():
    """The np.repeat/arange-built _gap_fill is bit-identical to the
    per-row loop for every ImputationMethod x anchor x fill_from combo."""
    from random_cut_forest_by_aws_spark.operators.drift import _gap_fill

    rng = np.random.default_rng(17)
    n, d = 400, 3
    X = rng.normal(0, 1, (n, d))
    keep = np.sort(rng.choice(np.arange(3, 3 * n, dtype=np.int64), n, replace=False))
    imputed = rng.random(n) < 0.1
    anchors = [(None, None), (0, None), (0, rng.normal(0, 1, d))]
    for method in ("zero", "fixed", "previous", "next", "linear", "rcf"):
        for anchor_seq, anchor_x in anchors:
            for fill_from in (0, 7):
                cfg = DriftConfig(
                    impute_method=method, max_gap_fill=3,
                    impute_fixed=(1.0, 2.0, 3.0) if method == "fixed" else None,
                    expected_step=2,
                )
                gx, gs, gi = _gap_fill(
                    X, keep * 2, imputed, anchor_seq, anchor_x, fill_from, cfg
                )
                sx, ss, si = _scalar_gap_fill(
                    X, keep * 2, imputed, anchor_seq, anchor_x, fill_from, cfg
                )
                np.testing.assert_array_equal(gs, ss)
                np.testing.assert_array_equal(gi, si)
                np.testing.assert_array_equal(gx, sx)


def test_imp_ema_batch_matches_scalar():
    """Closed-form imputed-fraction EMA == the scalar recurrence on mixed
    imputed/real chunks, including the committed end state."""
    from random_cut_forest_by_aws_spark.operators.drift import _imp_ema_batch

    rng = np.random.default_rng(2)
    imp = rng.random(5000) < 0.3
    for K in (2, 64, 256):
        f = 1.0 - 1.0 / K
        ema0 = 0.37
        pre = np.empty(len(imp))
        e = ema0
        for i in range(len(imp)):
            pre[i] = e
            e = f * e + (1.0 - f) if imp[i] else f * e
        got_pre, got_end = _imp_ema_batch(imp, ema0, f)
        np.testing.assert_allclose(got_pre, pre, rtol=1e-9, atol=1e-12)
        np.testing.assert_allclose(got_end, e, rtol=1e-9, atol=1e-12)


def test_primary_process_batch_zero_scores_follow_reference():
    """Scores <= 0 emit (0, 0) and leave all deviations untouched — the
    reference guards getPrimaryThresholdAndGrade with score > 0 and
    saveScores updates the DISTANCE thresholder only for positive scores
    (PredictorCorrector.java:704-710)."""
    from random_cut_forest_by_aws_spark.core.thresholder import BasicThresholder

    rng = np.random.default_rng(3)
    scores = np.abs(rng.normal(1.0, 0.3, 400)) + 0.01
    scores[rng.random(400) < 0.25] = 0.0  # exact-duplicate distances
    a = BasicThresholder()
    b = BasicThresholder()
    thr_s, g_s = [], []
    prev = a.last_score
    for x in scores:
        if x > 0:
            t, g = a.primary_threshold_and_grade(float(x))
            a.update2(float(x), prev)
            a.last_score = float(x)
            prev = float(x)
        else:
            t, g = 0.0, 0.0
        thr_s.append(t)
        g_s.append(g)
    thr_b, g_b = b.primary_process_batch(scores)
    np.testing.assert_allclose(thr_b, thr_s, rtol=1e-9, atol=1e-12)
    np.testing.assert_allclose(g_b, g_s, rtol=1e-9, atol=1e-12)
    np.testing.assert_allclose(
        [a.primary.sum, a.primary.weight, a.secondary.sum,
         a.threshold_dev.sum, float(a.count)],
        [b.primary.sum, b.primary.weight, b.secondary.sum,
         b.threshold_dev.sum, float(b.count)],
        rtol=1e-9,
    )


def test_rcf_impute_with_shingle_rejected():
    """impute_method='rcf' + shingle_size>1 would index base-dim vectors
    with shingle-space cut dims inside the executor — rejected upfront."""
    import pytest

    from random_cut_forest_by_aws_spark.operators.drift import drift_scores

    cfg = DriftConfig(mode="streaming_impute", impute_method="rcf", shingle_size=2)
    with pytest.raises(ValueError, match="rcf"):
        drift_scores(None, cfg=cfg)


def test_auto_adjust_quiets_level_shift_cascade():
    """Operator-level autoAdjust: a persistent level shift produces a
    sustained candidate run; with cfg.auto_adjust the in-band run is
    suppressed as DATA_DRIFT after the onset, emitting strictly fewer
    anomaly rows than the fixed-band corrector while the onset still
    alerts."""
    rng = np.random.default_rng(29)
    n = 4000
    X = rng.normal(0.0, 0.4, (n, 3))
    # persistent shift in ALL dims (drift, not a spike): the top-2
    # expected-point imputation leaves a residual dim, so the cascade
    # survives the fixed-band corrector and reaches autoAdjust
    X[3000:] += 6.0
    kw = dict(num_trees=10, sample_size=32, chunk_size=256, buckets=1,
              window=32, min_baseline_windows=3, use_corrector=True,
              run_length_suppression=False)
    base = _run(DriftConfig(**kw), X)
    auto = _run(DriftConfig(**kw, auto_adjust=True), X)
    nb = int(base[base.row_kind == "summary"].iloc[0].n_anomalous)
    na = int(auto[auto.row_kind == "summary"].iloc[0].n_anomalous)
    a_seqs = auto[auto.row_kind == "anomaly"]["seq"]
    assert na < nb, (na, nb)
    assert na >= 1 and (a_seqs >= 3000).any()  # onset still alerts


def test_auto_adjust_checkpoint_resume_bit_exact(tmp_path):
    """The autoAdjust deviations/run state ride the checkpoint: a resumed
    run reproduces the uninterrupted one exactly."""
    rng = np.random.default_rng(31)
    n = 4000
    X = rng.normal(0.0, 0.4, (n, 3))
    X[2500:] += 6.0
    kw = dict(num_trees=10, sample_size=32, chunk_size=256, buckets=1,
              window=32, min_baseline_windows=3, use_corrector=True,
              run_length_suppression=False, auto_adjust=True)
    full = _run(DriftConfig(**kw), X)
    cfg_ck = DriftConfig(**kw, checkpoint_dir=str(tmp_path))
    _run(cfg_ck, X[:2700])
    resumed = _run(cfg_ck, X)
    f_sum = full[full.row_kind == "summary"].iloc[0]
    r_sum = resumed[resumed.row_kind == "summary"].iloc[0]
    for c in ["n_rows", "n_scored", "n_anomalous", "n_windows"]:
        assert f_sum[c] == r_sum[c], c
    fa = full[full.row_kind == "anomaly"]
    ra = resumed[resumed.row_kind == "anomaly"]
    fa_new = fa[fa.seq > 2700].sort_values("seq")
    ra_new = ra[ra.seq > 2700].sort_values("seq")
    np.testing.assert_array_equal(fa_new["seq"].values, ra_new["seq"].values)
    np.testing.assert_allclose(fa_new["score"].values, ra_new["score"].values,
                               rtol=0, atol=0)
