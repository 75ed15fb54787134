"""Distribution-drift operator (north_rule item c).

Runs a Random Cut Forest sketch per ``(group, bucket)`` partition inside
one Arrow grouped map (``applyInArrow``) — the Spark-idiomatic
re-expression of the reference's ThresholdedRandomCutForest pipeline
(``parkservices/ThresholdedRandomCutForest.java:234-277``: preprocess →
score → threshold → update). ``drift_group`` is the Spark-free per-group
core; ``drift_scores`` only plans the buckets and adapts Arrow to it:

* feature columns are computed JVM-side (`functions.token_features`); the
  array column crosses the boundary as-is and the core receives its flat
  child values as a float matrix — no per-row Python;
* per-partition streaming NORMALIZE transform (discounted per-dim
  mean/dev, ``preprocessor/Preprocessor.java:807-820``) applied in
  closed-form per chunk;
* chunked score-then-update protocol (the batch analogue of
  ``processSequentially``, ``ThresholdedRandomCutForest.java:295-389``);
* BasicThresholder grades each score; grade > 0 rows become violation
  rows, plus one summary row per partition → pass/fail verdict.

Scale design: the grouping key is ``(group_cols…, bucket)`` where bucket
salts the skewed key (web ≈ 80% of rows) into bounded-size partitions, so
one hot source cannot overwhelm a single task (north_rule skew handling).
Per-source verdicts then merge bucket verdicts. Shuffle count: exactly one
(the groupBy); the forest state lives entirely inside the task.

Checkpoint/resume (north_rule d): with ``checkpoint_dir`` set, each group
saves forest+thresholder+normalizer state keyed by group; a re-run skips
already-processed rows (seq ≤ saved watermark) and continues the sketch —
bit-identical to an uninterrupted run (tested), mirroring the reference's
state-mapper round-trips (``state/RandomCutForestMapper.java:118,209``).
"""

from __future__ import annotations

import hashlib
import os
import tempfile
from dataclasses import dataclass, field, replace

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..core.forest import RCFForest
from ..core.thresholder import BasicThresholder, Deviation

SUMMARY_SEQ = -1
# drift_scores' result columns after the group key and order_col, with
# their Spark types; drift_group returns them keyed by name (plus ``seq``)
_RESULT_COLS = (
    ("score", "double"), ("threshold", "double"), ("grade", "double"),
    ("row_kind", "string"), ("n_rows", "long"), ("n_scored", "long"),
    ("n_anomalous", "long"), ("n_windows", "long"), ("n_drifted_windows", "long"),
    ("n_imputed", "long"), ("mean_score", "double"),
)


@dataclass
class DriftConfig:
    num_trees: int = 30
    sample_size: int = 256
    time_decay: float | None = 0.0  # long memory: validation compares to baseline
    seed: int = 42
    chunk_size: int = 4096
    z_factor: float = 3.0  # per-row thresholder (violation rows)
    norm_discount: float = 0.0  # cumulative stats ⇒ stable baseline coords
    clip_factor: float = 100.0
    # TransformMethod parity (config/TransformMethod.java): 'none',
    # 'normalize', 'difference', 'normalize_difference', 'weighted'
    # (WeightedTransformer.java:44,174), 'subtract_ma'
    # (SubtractMATransformer.java — discounted moving average removed).
    transform: str = "normalize"
    transform_weights: tuple | None = None  # WEIGHTED: per-dim multipliers
    # ForestMode parity (config/ForestMode.java): 'standard',
    # 'time_augmented' (the order_col gap appended as an extra feature
    # dimension, Preprocessor.java:53-90 — catches cadence shifts in
    # irregular streams), 'streaming_impute' (grid gaps filled before
    # update, ImputePreprocessor.java:39).
    mode: str = "standard"
    # shingle the (transformed) stream: the forest scores windows of the
    # last ``shingle_size`` rows (ShingleBuilder semantics; the corrector
    # then runs the slot-aware analysis, PredictorCorrector.java:795-905)
    shingle_size: int = 1
    # ScoringStrategy (parkservices/config/ScoringStrategy.java;
    # PredictorCorrector.populateScores:595-609):
    # 'expected_inverse_depth' — the standard RCF score;
    # 'distance' — getSimpleDensity(point).distances highLowSum, graded by
    #   the simple primary mean + z·dev threshold;
    # 'multi_mode' — both: the RCF grade is vetoed when the distance
    #   thresholder is warm and grades the point 0 (:785-792) — distance
    #   acts as a second opinion against inverse-depth false positives.
    # 'multi_mode_recall' — both, optimized for recall instead
    #   (ScoringStrategy.java:55-60; PredictorCorrector.java:809-820): no
    #   veto; when the primary grade is 0 and the gap since the last
    #   significant anomaly ≥ shingle_size, the warm distance thresholder
    #   may RE-ELEVATE the point — score/threshold/grade flip to the
    #   distance path (choice = DISTANCE_INDEX). Re-elevated rows skip the
    #   inverse-depth expected-point corrector (its score/threshold
    #   comparisons are scale-mismatched against distance grades), a
    #   documented deviation from the reference's shared correction tail.
    scoring: str = "expected_inverse_depth"
    expected_step: int = 1  # expected order_col cadence between rows
    # ImputationMethod parity (config/ImputationMethod.java):
    # zero | fixed | previous | next | linear | rcf
    impute_method: str = "previous"
    impute_fixed: tuple | None = None  # FIXED fill values
    max_gap_fill: int = 64  # cap imputed points per gap (memory guard)
    # useImputedFraction gate (Preprocessor.java:84): stop updating the
    # forest while the discounted imputed fraction exceeds this.
    max_imputed_frac: float = 0.5
    # windowed drift verdict: flag a window when its mean score exceeds the
    # baseline of window means by drift_z deviations (with a relative floor)
    window: int = 256
    drift_z: float = 4.0
    min_baseline_windows: int = 5
    baseline_discount: float = 0.02
    dev_floor_frac: float = 0.02
    # per-row anomalies: emit only confident grades as violation rows
    min_emit_grade: float = 0.5
    # PredictorCorrector (parkservices parity): suppress anomalies whose
    # expected point (attribution-led imputation) explains the score away
    use_corrector: bool = True
    # run-length machinery (PredictorCorrector.java:288,767-783): a
    # continuing anomaly (flagged rows within run_gap, same dominant
    # attributed dimension) reports its onset once; a different dimension
    # taking over (the attribution trigger) re-alerts
    run_length_suppression: bool = True
    run_gap: int = 2
    trigger_factor: float = 0.5  # L1 attribution shift that re-alerts
    # autoAdjust (PredictorCorrector.java:109,905-962): per-dimension
    # discounted deviations over the candidate stream size the suppression
    # bands adaptively; a sustained run within the per-dim bands is
    # DATA_DRIFT, not a new anomaly. Fixes mis-tuned suppression when
    # per-dim noise floors differ by orders of magnitude.
    auto_adjust: bool = False
    anomaly_rate_threshold: float = 0.01
    # skew handling: a group never exceeds ~rows_per_bucket rows; bucket
    # count per group value adapts to its frequency, capped at max_buckets.
    # buckets=N forces exactly N buckets for every group (tests/back-compat).
    buckets: int | None = None
    rows_per_bucket: int = 25_000
    max_buckets: int = 4096
    checkpoint_dir: str | None = None
    extra: dict = field(default_factory=dict)


def _resolve_transform(cfg: "DriftConfig", d: int) -> dict:
    """TransformMethod resolution shared by the batch and streaming
    operators (they previously diverged — normalize-only streaming)."""
    method = cfg.transform
    do_norm = method in ("normalize", "normalize_difference")
    do_sub = method == "subtract_ma"
    return {
        "do_norm": do_norm,
        "do_diff": method in ("difference", "normalize_difference"),
        "do_sub": do_sub,
        "do_weight": method == "weighted",
        "do_stat": do_norm or do_sub,
        "weights": (
            np.asarray(cfg.transform_weights, np.float64)
            if cfg.transform_weights is not None
            else np.ones(d)
        ),
    }


def _transform_chunk(
    tf: dict,
    chunk: np.ndarray,
    imp: np.ndarray | None,
    norm: "_Normalizer",
    tlast: np.ndarray,
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray, bool]:
    """Shared pre-score transform pipeline: returns (base, real, xn,
    raw_last, bootstrap_updated). Callers must finish the chunk with
    ``if tf['do_stat'] and not updated and len(real): norm.update(real)``
    AFTER scoring (statistics learn score-then-update, and only from
    actual — never imputed — input)."""
    raw_last = chunk[-1].copy()
    if tf["do_weight"]:  # WeightedTransformer: per-dim scaling
        base = chunk * tf["weights"][None, :]
    elif tf["do_diff"]:  # DifferenceTransformer: x_t − x_{t−1}
        prev_first = chunk[0] if np.isnan(tlast).any() else tlast
        base = chunk - np.vstack([prev_first[None, :], chunk[:-1]])
    else:
        base = chunk
    real = base[~imp] if imp is not None and imp.any() else base
    updated = False
    if tf["do_stat"] and norm.weight <= 0 and len(real):
        # bootstrap from the first chunk (reference Preprocessor's
        # startNormalization analogue) — never feed all-zero points
        norm.update(real)
        updated = True
    xn = norm.transform(base) if tf["do_stat"] else base.astype(np.float32)
    return base, real, xn, raw_last, updated


def _shingle(
    tail: np.ndarray, xn: np.ndarray, s: int
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """ShingleBuilder over one chunk of transformed rows, shared by the
    batch and streaming operators: forest points are windows of the last
    ``s`` rows, with ``tail`` (the previous s−1 rows) carried across chunk
    and micro-batch boundaries. Rows before the first full shingle (stream
    start) are consumed without a point (warm-up). Returns (pts, row_map,
    new_tail); ``row_map[i]`` is the chunk row that completes ``pts[i]``."""
    if s <= 1:
        return xn, np.arange(len(xn), dtype=np.int64), tail
    cat = np.vstack([tail, xn]) if len(tail) else xn
    if len(cat) >= s:
        pts = np.ascontiguousarray(
            np.lib.stride_tricks.sliding_window_view(cat, (s, cat.shape[1]))[
                :, 0
            ].reshape(-1, s * cat.shape[1]),
            np.float32,
        )
        row_map = np.arange(len(pts), dtype=np.int64) + (s - 1 - len(tail))
    else:
        pts = np.zeros((0, s * cat.shape[1]), np.float32)
        row_map = np.zeros(0, np.int64)
    return pts, row_map, cat[max(0, len(cat) - (s - 1)):].copy()


def _group_seed(key: tuple, seed: int) -> int:
    h = hashlib.blake2b("\x1f".join(str(k) for k in key).encode(), digest_size=8)
    return (int.from_bytes(h.digest(), "big") ^ seed) % (2**63 - 1)


class _Normalizer:
    """Streaming per-dim NORMALIZE transform, closed-form batch updates.

    y = clip((x − mean) / (2·(dev + ε)), ±clip) per Preprocessor.java
    normalize():807-820; discounted mean/dev per Deviation.java but updated
    a chunk at a time: after B updates with factor f per step,
    weight' = weight·f^B + (1−f^B)/(1−f), sum' = sum·f^B + Σ x_i·f^{B−1−i}.
    """

    def __init__(self, dim: int, discount: float, clip: float, mean_only: bool = False):
        self.discount = discount
        self.clip = clip
        self.mean_only = mean_only  # SUBTRACT_MA: y = x − discounted mean
        self.weight = 0.0
        self.sum = np.zeros(dim)
        self.sumsq = np.zeros(dim)

    def transform(self, X: np.ndarray) -> np.ndarray:
        if self.weight <= 0:
            return np.zeros_like(X, np.float32)
        m = self.sum / self.weight
        if self.mean_only:
            return (X - m).astype(np.float32)
        v = np.maximum(self.sumsq / self.weight - m * m, 0.0)
        dev = np.sqrt(v)
        y = (X - m) / (2.0 * (dev + 1e-9))
        return np.clip(y, -self.clip, self.clip).astype(np.float32)

    def update(self, X: np.ndarray) -> None:
        B = len(X)
        f = 1.0 - self.discount
        if self.discount == 0.0:
            self.weight += B
            self.sum = self.sum + X.sum(0)  # no in-place: snapshots alias
            self.sumsq = self.sumsq + (X * X).sum(0)
            return
        w = np.power(f, np.arange(B - 1, -1, -1, dtype=np.float64))
        fB = f**B
        self.weight = self.weight * fB + (1.0 - fB) / (1.0 - f)
        self.sum = self.sum * fB + (w[:, None] * X).sum(0)
        self.sumsq = self.sumsq * fB + (w[:, None] * X * X).sum(0)

    def to_state(self) -> dict:
        return {
            "nw": np.array([self.weight, self.discount, self.clip]),
            "nsum": self.sum.copy(),
            "nsumsq": self.sumsq.copy(),
        }

    def load_state(self, s: dict) -> None:
        self.weight, self.discount, self.clip = (float(x) for x in s["nw"])
        self.sum = s["nsum"].copy()
        self.sumsq = s["nsumsq"].copy()


def _gap_fill(
    X: np.ndarray,
    seqs: np.ndarray,
    imputed: np.ndarray,
    anchor_seq: int | None,
    anchor_x: np.ndarray | None,
    fill_from: int,
    cfg: "DriftConfig",
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """STREAMING_IMPUTE gap filling (ImputePreprocessor.java:39): insert
    imputed rows on the expected ``order_col`` grid wherever consecutive
    rows (from index ``fill_from`` on; earlier rows are a replayed
    checkpoint tail that was already filled) are more than ``expected_step``
    apart. ``anchor_seq/anchor_x`` extend the grid across a resume
    boundary. Values per cfg.impute_method; 'rcf' rows are marked for
    lazy forest-conditional resolution at chunk time."""
    step = cfg.expected_step
    n, d = X.shape
    if n == 0:
        return X, seqs, imputed
    fixed = (
        np.asarray(cfg.impute_fixed, np.float64)
        if cfg.impute_fixed is not None
        else np.zeros(d)
    )
    # per-row predecessor on the grid: row i-1, or the anchor for row 0
    prev_seq = np.empty(n, np.int64)
    prev_seq[1:] = seqs[:-1]
    has_prev = np.ones(n, bool)
    if anchor_seq is not None:
        prev_seq[0] = anchor_seq
    else:
        prev_seq[0] = seqs[0]
        has_prev[0] = False
    n_missing = (seqs - prev_seq) // step - 1
    n_fill = np.clip(n_missing, 0, cfg.max_gap_fill)
    n_fill[:fill_from] = 0
    n_fill[~has_prev] = 0
    total = int(n_fill.sum())
    if total == 0:
        return X, seqs, imputed
    # fill row k (global, ordered) belongs to gap row_idx[k] with in-gap
    # index g[k] ∈ [0, n_fill[row_idx[k]])
    cum = np.concatenate([[0], np.cumsum(n_fill)])
    row_idx = np.repeat(np.arange(n), n_fill)
    g = np.arange(total, dtype=np.int64) - cum[row_idx]
    gseq = prev_seq[row_idx] + (g + 1) * step
    # predecessor VALUES: X[i-1]; for row 0 the anchor value, else X[0]
    # (matching the scalar rule "prev_x if prev_x is not None else X[i]")
    prev_x = np.empty_like(X)
    prev_x[1:] = X[:-1]
    prev_x[0] = anchor_x if anchor_x is not None else X[0]
    m = cfg.impute_method
    if m == "zero":
        vals = np.zeros((total, d))
    elif m == "fixed":
        vals = np.broadcast_to(fixed, (total, d)).copy()
    elif m == "next":
        vals = X[row_idx].copy()
    elif m == "linear":
        base = prev_x[row_idx]
        frac = (g + 1) / (n_missing[row_idx] + 1)
        vals = base + frac[:, None] * (X[row_idx] - base)
    else:  # previous | rcf (rcf resolved lazily at chunk time)
        vals = prev_x[row_idx].copy()
    # interleave: fill k sits at position row_idx[k] + k; original row i at
    # i + (fills of gaps ≤ i) = i + cum[i + 1]
    out_n = n + total
    fill_pos = row_idx + np.arange(total)
    orig_pos = np.arange(n) + cum[1:]
    out_X = np.empty((out_n, d), np.float64)
    out_seq = np.empty(out_n, np.int64)
    out_imp = np.empty(out_n, bool)
    out_X[orig_pos] = X
    out_X[fill_pos] = vals
    out_seq[orig_pos] = seqs
    out_seq[fill_pos] = gseq
    out_imp[orig_pos] = imputed
    out_imp[fill_pos] = True
    return out_X, out_seq, out_imp


def _imp_ema_batch(
    imp: np.ndarray, ema0: float, f: float
) -> tuple[np.ndarray, float]:
    """Closed-form discounted imputed-fraction EMA over a chunk.

    The scalar recurrence ``ema' = f·ema + (1−f)·imp_i`` has the prefix
    form ``ema_i = f^i·ema0 + (1−f)·f^{i−1}·Σ_{j<i} imp_j·f^{−j}`` (state
    BEFORE row i) — the same trick as ``BasicThresholder.process_batch``'s
    Deviation prefixes, blocked so the f^{−j} factors stay bounded.
    Returns (per-row pre-update EMA, end-of-chunk EMA)."""
    n = len(imp)
    out = np.empty(n, np.float64)
    blk = n if f >= 1.0 else max(1, int(27.6 / -np.log(f)))
    ema = float(ema0)
    for lo in range(0, n, blk):
        m = imp[lo : lo + blk].astype(np.float64)
        k = len(m)
        j = np.arange(k, dtype=np.float64)
        fi = f ** j
        inv = f ** (-j)
        c = np.concatenate([[0.0], np.cumsum(m * inv)])
        out[lo : lo + k] = fi * ema + (1.0 - f) * (fi / f) * c[:-1]
        ema = (f ** k) * ema + (1.0 - f) * (f ** (k - 1)) * c[-1]
    return out, ema


def _checkpoint_path(ckpt_dir: str, key: tuple) -> str:
    tag = hashlib.blake2b("\x1f".join(str(k) for k in key).encode(), digest_size=12).hexdigest()
    return os.path.join(ckpt_dir, f"group-{tag}.npz")


def _state_dict(
    forest: RCFForest,
    th: BasicThresholder,
    norm: _Normalizer,
    extras: dict,
    buf_X: np.ndarray,
    buf_seqs: np.ndarray,
    buf_imp: np.ndarray | None = None,
    th2: BasicThresholder | None = None,
    corrector=None,
) -> dict:
    """Serialize (forest, thresholder, normalizer, counters) as of a chunk
    boundary, plus the replay buffer of post-boundary rows. The buffer is
    what makes resume bit-exact for any interruption point: scores depend
    on forest state at chunk boundaries, so the checkpoint always stores
    boundary state and re-delivers the (< chunk_size) tail on resume."""
    state = forest.to_state()
    state.pop("rng_state")
    rs = [(g.bit_generator.state["state"]["state"], g.bit_generator.state["state"]["inc"])
          for g in forest._rngs]
    state["rng_lo"] = np.array([s & ((1 << 64) - 1) for s, _ in rs], np.uint64)
    state["rng_hi"] = np.array([(s >> 64) & ((1 << 64) - 1) for s, _ in rs], np.uint64)
    state["rng_hi2"] = np.array([(s >> 128) & ((1 << 64) - 1) for s, _ in rs], np.uint64)
    state["inc_lo"] = np.array([i & ((1 << 64) - 1) for _, i in rs], np.uint64)
    state["inc_hi"] = np.array([(i >> 64) & ((1 << 64) - 1) for _, i in rs], np.uint64)
    for prefix, t in (("th", th), ("th2", th2)):  # th2: distance-mode thresholder
        if t is not None:
            state.update({f"{prefix}_{k}": np.array(v) for k, v in t.to_state().items()})
    state.update(norm.to_state())
    if corrector is not None and getattr(corrector, "auto_adjust", False):
        state.update(corrector.aa_state())
    state["extras"] = np.array(
        [extras.get("last_seq", -1), extras.get("n_rows", 0), extras.get("n_scored", 0),
         extras.get("n_anomalous", 0), extras.get("n_windows", 0),
         extras.get("n_drifted_windows", 0), extras.get("n_imputed", 0),
         extras.get("run_seq", -1)],
        np.int64,
    )
    rv = extras.get("run_attrib")
    state["run_attrib"] = (
        np.asarray(rv, np.float64) if rv is not None else np.zeros(0)
    )
    state["extras_f"] = np.array(
        [extras.get("score_sum", 0.0), extras.get("win_sum", 0.0),
         extras.get("win_cnt", 0.0), extras.get("imp_ema", 0.0)]
    )
    state["baseline"] = np.array(extras["baseline"].to_state())
    state["tlast"] = np.asarray(
        extras.get("tlast", np.full(forest.d, np.nan)), np.float64
    )
    st = extras.get("sh_tail")
    state["sh_tail"] = (
        np.asarray(st, np.float64) if st is not None and len(st) else np.zeros((0, 1))
    )
    state["extras_sh"] = np.array(
        [float(extras.get("sh_last_seq", -(1 << 62))),
         float(extras.get("sh_last_score", 0.0)),
         float(extras.get("rc_last_seq", -(1 << 62)))]
    )
    n_buf = len(buf_seqs)
    state["buf_X"] = (
        np.asarray(buf_X, np.float64).reshape(n_buf, -1)
        if n_buf
        else np.zeros((0, forest.d), np.float64)
    )
    state["buf_seqs"] = np.asarray(buf_seqs, np.int64)
    state["buf_imp"] = (
        np.asarray(buf_imp, np.int8)
        if buf_imp is not None
        else np.zeros(n_buf, np.int8)
    )
    return state


def _write_group_state(path: str, state: dict) -> None:
    """Publish ``state`` atomically: every writer (a task attempt, its
    speculative copy or a zombie retry) fills its own temp file and then
    ``os.replace``s it over ``path``, so readers never see partial state
    and concurrent writers never share an inode."""
    ckpt_dir, name = os.path.split(path)
    os.makedirs(ckpt_dir, exist_ok=True)
    fd, tmp = tempfile.mkstemp(dir=ckpt_dir, prefix=name + ".", suffix=".tmp")
    try:
        with os.fdopen(fd, "wb") as fh:
            np.savez_compressed(fh, **state)
        os.replace(tmp, path)
    finally:
        if os.path.exists(tmp):  # the write failed before the replace
            os.unlink(tmp)


def _load_group_state(path_or_file):
    z = np.load(path_or_file, allow_pickle=False)
    state = {k: z[k] for k in z.files}
    n = len(state["rng_lo"])
    rng_state = []
    for i in range(n):
        s = (int(state["rng_hi2"][i]) << 128) | (int(state["rng_hi"][i]) << 64) | int(
            state["rng_lo"][i]
        )
        inc = (int(state["inc_hi"][i]) << 64) | int(state["inc_lo"][i])
        rng_state.append((s, inc))
    state["rng_state"] = np.array(rng_state, dtype=object)
    forest = RCFForest.from_state(state)

    def thresholder(prefix: str) -> BasicThresholder:
        parts = ("primary", "secondary", "threshold_dev", "params")
        return BasicThresholder.from_state({k: state[f"{prefix}_{k}"] for k in parts})

    th = thresholder("th")
    extras = {
        "last_seq": int(state["extras"][0]),
        "n_rows": int(state["extras"][1]),
        "n_scored": int(state["extras"][2]),
        "n_anomalous": int(state["extras"][3]),
        "n_windows": int(state["extras"][4]),
        "n_drifted_windows": int(state["extras"][5]),
        "n_imputed": int(state["extras"][6]) if len(state["extras"]) > 6 else 0,
        "run_seq": int(state["extras"][7]) if len(state["extras"]) > 7 else -1,
        "run_attrib": (
            np.asarray(state["run_attrib"], np.float64)
            if "run_attrib" in state and len(state["run_attrib"])
            else None
        ),
        "score_sum": float(state["extras_f"][0]),
        "win_sum": float(state["extras_f"][1]),
        "win_cnt": float(state["extras_f"][2]),
        "imp_ema": float(state["extras_f"][3]) if len(state["extras_f"]) > 3 else 0.0,
        "baseline": Deviation.from_state(state["baseline"]),
    }
    if "tlast" in state:
        extras["tlast"] = np.asarray(state["tlast"], np.float64)
    if "sh_tail" in state and state["sh_tail"].shape != (0, 1):
        extras["sh_tail"] = np.asarray(state["sh_tail"], np.float32)
    if "extras_sh" in state:
        extras["sh_last_seq"] = int(state["extras_sh"][0])
        extras["sh_last_score"] = float(state["extras_sh"][1])
        if len(state["extras_sh"]) > 2:
            extras["rc_last_seq"] = int(state["extras_sh"][2])
    if "th2_params" in state:
        extras["th2"] = thresholder("th2")
    return forest, th, state, extras


def drift_group(
    key: tuple,
    seqs: np.ndarray,
    X: np.ndarray,
    cfg: DriftConfig,
    anchor: tuple[int, np.ndarray] | None = None,
) -> dict:
    """Drift sketch of one ``(group…, bucket)`` partition: the Spark-free
    core of ``drift_scores``. Rows of ``X`` (float64[n, d]) are processed in
    stable ``seqs`` (int64[n]) order; ``key`` (plain Python values) seeds
    the forest and names the checkpoint. ``anchor`` is the previous range
    block's last real ``(seq, features)`` row, so gap-fill and dt across
    block boundaries match the single-stream run. Returns the columns
    ``seq`` + ``_RESULT_COLS``: anomaly rows, drifted-window rows and one
    summary row."""
    import time as _time

    # per-phase wall profiling (SPARK_GRAFT_DRIFT_PROFILE=<dir>): each
    # task appends one JSON of accumulated phase seconds — the
    # feedback loop for "where do drift's seconds go" (aggregated by
    # scripts/profile_drift.py). Zero overhead when unset.
    prof_dir = os.environ.get("SPARK_GRAFT_DRIFT_PROFILE")
    prof: dict | None = {} if prof_dir else None

    def _acc(name: str, t0: float) -> None:
        prof[name] = prof.get(name, 0.0) + (_time.perf_counter() - t0)

    t_all = _time.perf_counter() if prof is not None else 0.0
    order = np.argsort(seqs, kind="stable")
    seqs = np.asarray(seqs, np.int64)[order]
    X = np.asarray(X, np.float64)[order]
    if cfg.mode == "time_augmented" and len(X):
        # ForestMode.TIME_AUGMENTED: the order_col gap becomes an extra
        # feature dimension (Preprocessor.java:53-90) — cadence shifts
        # in irregular streams then register as anomalies/drift. In
        # range-blocked execution the first row's dt comes from the
        # previous block's last seq (the anchor row), so block
        # boundaries measure the stream's real cadence.
        prepend = seqs[0] - cfg.expected_step
        if anchor is not None:
            prepend = anchor[0]
        dt = np.diff(seqs, prepend=prepend).astype(np.float64)
        X = np.column_stack([X, dt])
    d = X.shape[1]
    imputed = np.zeros(len(X), bool)

    tf = _resolve_transform(cfg, d)
    do_norm, do_stat, do_sub = tf["do_norm"], tf["do_stat"], tf["do_sub"]

    ckpt = (
        _checkpoint_path(cfg.checkpoint_dir, tuple(key)) if cfg.checkpoint_dir else None
    )
    extras = {
        "last_seq": -1, "n_rows": 0, "n_scored": 0, "n_anomalous": 0,
        "n_windows": 0, "n_drifted_windows": 0, "n_imputed": 0,
        "run_seq": -1, "run_attrib": None,
        "score_sum": 0.0, "win_sum": 0.0, "win_cnt": 0.0, "imp_ema": 0.0,
        "baseline": Deviation(cfg.baseline_discount),
    }
    norm = _Normalizer(
        d, cfg.norm_discount if do_stat else 0.0, cfg.clip_factor, mean_only=do_sub
    )
    emit_wm = -1  # emit only rows with seq > emit_wm
    n_buf = 0
    ckpt_raw = None
    if ckpt and os.path.exists(ckpt):
        forest, th, raw, extras = _load_group_state(ckpt)
        ckpt_raw = raw
        norm.load_state(raw)
        emit_wm = extras["last_seq"]
        keep = seqs > emit_wm  # resume: drop rows already processed…
        X, seqs = X[keep], seqs[keep]
        imputed = np.zeros(len(X), bool)
        if len(raw["buf_seqs"]):  # …but replay the post-boundary tail
            n_buf = len(raw["buf_seqs"])
            X = np.vstack([raw["buf_X"], X]) if len(X) else raw["buf_X"]
            seqs = np.concatenate([raw["buf_seqs"], seqs])
            buf_imp = (
                raw["buf_imp"].astype(bool)
                if "buf_imp" in raw
                else np.zeros(n_buf, bool)
            )
            imputed = np.concatenate([buf_imp, np.zeros(len(X) - n_buf, bool)])
    else:
        forest = RCFForest(
            d * max(1, cfg.shingle_size),
            num_trees=cfg.num_trees,
            sample_size=cfg.sample_size,
            time_decay=cfg.time_decay,
            seed=_group_seed(tuple(key), cfg.seed),
        )
        th = BasicThresholder(z_factor=cfg.z_factor)

    if "tlast" not in extras:
        extras["tlast"] = np.full(d, np.nan)
    s_sh = max(1, cfg.shingle_size)
    if "sh_tail" not in extras:
        extras["sh_tail"] = np.zeros((0, d), np.float32)
    th2 = extras.pop("th2", None)
    if cfg.scoring in ("multi_mode", "multi_mode_recall") and th2 is None:
        th2 = BasicThresholder(z_factor=cfg.z_factor)

    if cfg.mode == "time_augmented" and emit_wm >= 0 and len(X) > n_buf:
        # boundary dt across a resume: the first kept row's predecessor
        # is the last buffered row, or — when the caller feeds only new
        # rows — the last processed seq (emit_wm). With a full-history
        # re-feed this equals the dt already computed, so it is a no-op
        # there and a fix only for incremental feeds.
        prev = int(seqs[n_buf - 1]) if n_buf > 0 else emit_wm
        X[n_buf, -1] = float(seqs[n_buf] - prev)

    if cfg.mode == "streaming_impute" and len(X):
        # fill grid gaps from the buffer's end onward (earlier rows are
        # a replayed tail whose gaps the previous run already filled);
        # across an empty-buffer resume the anchor is the last processed
        # (seq, value) so the leading gap fills exactly as an
        # uninterrupted run would.
        tl = extras["tlast"]
        anchor_x = None if np.isnan(tl).any() else np.asarray(tl, np.float64)
        anchor_seq = emit_wm if (emit_wm >= 0 and n_buf == 0) else None
        if anchor_seq is None and n_buf == 0 and emit_wm < 0 and anchor:
            # fresh run of a range block: anchor the grid at the
            # previous block's last real row (checkpoint state wins
            # when present — it already encodes the same anchor)
            anchor_seq, anchor_x = anchor
        X, seqs, imputed = _gap_fill(
            X, seqs, imputed, anchor_seq, anchor_x, n_buf, cfg
        )

    baseline = extras["baseline"]
    anomalies: list[tuple] = []  # confident per-row violations
    windows: list[tuple] = []  # drifted windows (the verdict signal)
    corrector = None
    # the expected-point corrector re-scores with inverse depth; its
    # threshold comparison is scale-mismatched against pure DISTANCE
    # thresholds, so it only runs for inverse-depth-graded strategies
    if cfg.use_corrector and cfg.scoring != "distance":
        from ..core.corrector import PredictorCorrector

        corrector = PredictorCorrector(auto_adjust=cfg.auto_adjust)
        if cfg.auto_adjust and ckpt_raw is not None:
            corrector.load_aa_state(ckpt_raw)

    def close_window(end_seq: int) -> None:
        win_mean = extras["win_sum"] / extras["win_cnt"]
        extras["n_windows"] += 1
        if baseline.count >= cfg.min_baseline_windows:
            dev = max(
                baseline.deviation, cfg.dev_floor_frac * abs(baseline.mean), 1e-9
            )
            z = (win_mean - baseline.mean) / dev
            if z > cfg.drift_z:
                extras["n_drifted_windows"] += 1
                grade = min(1.0, (z - cfg.drift_z) / cfg.drift_z)
                if end_seq > emit_wm:  # replayed windows: count, don't re-emit
                    windows.append(
                        (end_seq, win_mean, baseline.mean + cfg.drift_z * dev, grade)
                    )
                # drifted windows do not contaminate the baseline
                extras["win_sum"] = extras["win_cnt"] = 0.0
                return
        baseline.update(win_mean)
        extras["win_sum"] = extras["win_cnt"] = 0.0

    B = len(X)
    done = extras["n_rows"]  # boundary-aligned when resuming
    oa = forest.output_after

    def next_boundary(n: int) -> int:
        """Absolute chunk grid: [0, output_after, output_after + k·C].
        Checkpoints land only on this grid, so any resume reproduces
        the same score-then-update boundaries (bit-exact resume)."""
        if n < oa:
            return oa
        return oa + ((n - oa) // cfg.chunk_size + 1) * cfg.chunk_size

    def process(lo: int, hi: int) -> None:
        if hi <= lo:
            return
        chunk = X[lo:hi]
        imp = imputed[lo:hi]
        t0 = _time.perf_counter() if prof is not None else 0.0
        base, real, xn, raw_last, updated = _transform_chunk(
            tf, chunk, imp, norm, extras["tlast"]
        )
        if prof is not None:
            _acc("transform", t0)
        if (
            cfg.mode == "streaming_impute"
            and cfg.impute_method == "rcf"
            and imp.any()
            and forest.is_output_ready
        ):
            # lazy RCF imputation with the forest state at chunk start
            # (chunk-granular analogue of ImputeVisitor-at-gap-time),
            # in the FOREST'S space: the forest is trained on the
            # transformed xn, so its leaf points are transformed values
            # — imputing into the raw chunk would double-transform.
            # The raw placeholder (previous value) still anchors
            # gap-fill/difference state. Deterministic per seq, so a
            # resume replays identically.
            from ..core.queries import impute as rcf_impute

            all_dims = list(range(xn.shape[1]))
            for j in np.flatnonzero(imp):
                # all dims missing = sample-from-forest degenerate case:
                # a tight leaf cap keeps the both-branch enumeration
                # bounded without changing the central-median estimate
                xn[j] = rcf_impute(
                    forest, xn[j], all_dims, seed=int(seqs[lo + j]),
                    max_leaves_per_tree=8,
                )
        pts, row_map, extras["sh_tail"] = _shingle(extras["sh_tail"], xn, s_sh)
        imp_p = imp[row_map]
        seq_p = seqs[lo:hi][row_map]
        if forest.is_output_ready and len(pts):
            t0 = _time.perf_counter() if prof is not None else 0.0
            ds = None
            if cfg.scoring == "distance":
                # ScoringStrategy.DISTANCE: the directional-distance
                # DiVector sum replaces the inverse-depth score
                from ..core.queries import density as _density_q

                dres = _density_q(forest, pts)
                scores = (dres["dist_high"] + dres["dist_low"]).sum(1)
            else:
                scores = forest.score(pts)
                if cfg.scoring in ("multi_mode", "multi_mode_recall"):
                    from ..core.queries import density as _density_q

                    dres = _density_q(forest, pts)
                    ds = (dres["dist_high"] + dres["dist_low"]).sum(1)
            if prof is not None:
                _acc("score", t0)
                t0 = _time.perf_counter()
            flagged: list[tuple] = []
            recall_emit: list[tuple] = []
            real_pos = np.flatnonzero(~imp_p)
            rs = scores[real_pos]
            if len(rs):
                # vectorized threshold-then-update over the chunk
                # (imputed rows maintain state, not signal)
                if cfg.scoring == "distance":
                    thr_arr, grade_arr = th.primary_process_batch(rs)
                else:
                    thr_arr, grade_arr = th.process_batch(rs, normalized=do_norm)
                if ds is not None:
                    thr2_arr, g2_arr = th2.primary_process_batch(ds[real_pos])
                    if cfg.scoring == "multi_mode":
                        # multi-mode veto (PredictorCorrector.java:
                        # 785-792): a warm distance thresholder grading
                        # the point 0 zeroes the inverse-depth grade
                        grade_arr = np.where(
                            (grade_arr > 0) & (thr2_arr > 0) & (g2_arr == 0),
                            0.0,
                            grade_arr,
                        )
                    else:
                        # MULTI_MODE_RECALL (PredictorCorrector.java:
                        # 809-820): a primary-grade-0 point whose gap
                        # since the last significant anomaly reaches
                        # shingleSize is re-graded by the warm distance
                        # thresholder; significant = primary-flagged or
                        # re-elevated (lastSignificantDescriptor). The
                        # scan touches only candidate rows (anomaly-
                        # bounded, not row-bounded).
                        last_sig = int(extras.get("rc_last_seq", -(1 << 62)))
                        seq_real = seq_p[real_pos]
                        ds_real = ds[real_pos]
                        for i in np.flatnonzero(
                            (grade_arr > 0) | ((thr2_arr > 0) & (g2_arr > 0))
                        ):
                            if grade_arr[i] > 0:
                                last_sig = int(seq_real[i])
                            elif int(seq_real[i]) - last_sig >= s_sh:
                                last_sig = int(seq_real[i])
                                if g2_arr[i] >= cfg.min_emit_grade:
                                    recall_emit.append(
                                        (int(seq_real[i]), float(ds_real[i]),
                                         float(thr2_arr[i]), float(g2_arr[i]))
                                    )
                        extras["rc_last_seq"] = last_sig
                extras["n_scored"] += len(rs)
                extras["score_sum"] += float(rs.sum())
                # window accounting: segment sums between closures
                start = 0
                while start < len(rs):
                    take = min(
                        int(cfg.window - extras["win_cnt"]), len(rs) - start
                    )
                    extras["win_sum"] += float(rs[start : start + take].sum())
                    extras["win_cnt"] += take
                    start += take
                    if extras["win_cnt"] >= cfg.window:
                        close_window(int(seq_p[real_pos[start - 1]]))
                for i in np.flatnonzero(grade_arr >= cfg.min_emit_grade):
                    flagged.append(
                        (int(real_pos[i]), float(rs[i]),
                         float(thr_arr[i]), float(grade_arr[i]))
                    )
            if prof is not None:
                _acc("threshold", t0)
                t0 = _time.perf_counter()
            if flagged:
                if corrector is not None and s_sh > 1:
                    # slot-aware shingle analysis: the spike sliding
                    # through later shingles is the SAME anomaly
                    # (PredictorCorrector.java:795-905)
                    idx = np.fromiter((f[0] for f in flagged), np.int64)
                    thr = np.fromiter((f[2] for f in flagged), np.float64)
                    shstate = {
                        "last_anomaly_seq": extras.get(
                            "sh_last_seq", -(1 << 62)
                        ),
                        "last_anomaly_score": extras.get("sh_last_score", 0.0),
                    }
                    sup, _, _ = corrector.suppress_shingle_batch(
                        forest, pts[idx].astype(np.float64), thr,
                        seq_p[idx], s_sh, shstate,
                    )
                    extras["sh_last_seq"] = shstate["last_anomaly_seq"]
                    extras["sh_last_score"] = shstate["last_anomaly_score"]
                elif corrector is not None:
                    idx = np.fromiter((f[0] for f in flagged), np.int64)
                    thr = np.fromiter((f[2] for f in flagged), np.float64)
                    if cfg.auto_adjust:
                        sup, fdims, exp_pts = corrector.should_suppress_batch(
                            forest, pts[idx].astype(np.float64), thr,
                            return_dims=True, return_expected=True,
                        )
                    else:
                        sup, fdims = corrector.should_suppress_batch(
                            forest, pts[idx].astype(np.float64), thr,
                            return_dims=True,
                        )
                        exp_pts = None
                    if cfg.run_length_suppression:
                        sup = corrector.run_length_filter(
                            sup, seq_p[idx], fdims, extras,
                            cfg.run_gap, cfg.trigger_factor,
                        )
                    if cfg.auto_adjust:
                        # the candidate stream = every thresholder-
                        # positive real row (the reference's
                        # inHighScoreRegion set); emitted rows are the
                        # subset actually tested for DATA_DRIFT
                        cand = real_pos[np.flatnonzero(grade_arr > 0)]
                        sup = corrector.auto_adjust_batch(
                            sup, pts[idx].astype(np.float64), exp_pts,
                            seq_p[idx],
                            cand_X=pts[cand].astype(np.float64),
                            cand_seqs=seq_p[cand],
                            step=cfg.expected_step,
                        )
                else:
                    sup = np.zeros(len(flagged), bool)
                for (i, s, threshold, grade), s_flag in zip(flagged, sup):
                    if s_flag:
                        continue
                    extras["n_anomalous"] += 1
                    if seq_p[i] > emit_wm:  # suppress replayed rows
                        anomalies.append(
                            (int(seq_p[i]), s, threshold, grade)
                        )
            for seq, s2, t2, g2 in recall_emit:
                # distance-path re-elevations bypass the inverse-depth
                # corrector (scale-mismatched); replay watermark applies
                extras["n_anomalous"] += 1
                if seq > emit_wm:
                    anomalies.append((seq, s2, t2, g2))
            if prof is not None:
                _acc("corrector", t0)
        t0 = _time.perf_counter() if prof is not None else 0.0
        if do_stat and not updated and len(real):
            norm.update(real)
        if imp.any():
            # useImputedFraction gate (Preprocessor.java:84): the forest
            # stops learning from imputed rows while the discounted
            # imputed fraction exceeds the cap — a long outage cannot
            # collapse the sketch onto its own imputations.
            f = 1.0 - 1.0 / max(cfg.sample_size, 2)
            pre_ema, end_ema = _imp_ema_batch(imp, extras["imp_ema"], f)
            allowed = np.ones(len(chunk), bool)
            allowed[imp] = pre_ema[imp] <= cfg.max_imputed_frac
            extras["imp_ema"] = end_ema
            extras["n_imputed"] += int(imp.sum())
            upd = allowed[row_map]
            if upd.any():
                forest.update_batch(pts[upd], seqs=seq_p[upd])
        else:
            extras["imp_ema"] *= (1.0 - 1.0 / max(cfg.sample_size, 2)) ** len(chunk)
            if len(pts):
                forest.update_batch(pts, seqs=seq_p)
        extras["n_rows"] += hi - lo
        extras["tlast"] = raw_last
        if prof is not None:
            _acc("update", t0)

    chunks = []
    pos = 0
    while pos < B:
        hi = min(B, next_boundary(done + pos) - done)
        chunks.append((pos, hi))
        pos = hi
    tail_lo = B
    if ckpt and chunks and (done + B) < next_boundary(done + chunks[-1][0]):
        tail_lo = chunks.pop()[0]  # defer the partial tail to the buffer
    for lo, hi in chunks:
        process(lo, hi)

    if ckpt:
        state = _state_dict(
            forest, th, norm, extras, X[tail_lo:], seqs[tail_lo:],
            imputed[tail_lo:], th2=th2, corrector=corrector,
        )
        process(tail_lo, B)  # tail: emitted now, replayed next run
        state["extras"][0] = extras["last_seq"] = (
            int(seqs[-1]) if B else extras["last_seq"]
        )
        _write_group_state(ckpt, state)
    else:
        process(tail_lo, B)
        if B:
            extras["last_seq"] = int(seqs[-1])

    if prof is not None:
        prof["task_total"] = _time.perf_counter() - t_all
        prof["n_rows"] = float(len(X))
        os.makedirs(prof_dir, exist_ok=True)
        tag = hashlib.blake2b(
            "\x1f".join(str(k) for k in key).encode(), digest_size=6
        ).hexdigest()
        with open(os.path.join(prof_dir, f"task-{os.getpid()}-{tag}.json"), "w") as fh:
            import json as _json

            _json.dump(prof, fh)

    # (seq, score, threshold, grade) per anomaly and drifted window, then
    # the summary row, whose counters are zero on the other rows
    rows = [(*r, "anomaly") for r in anomalies] + [(*r, "window") for r in windows]
    rows.append((SUMMARY_SEQ, 0.0, 0.0, 0.0, "summary"))
    seq, score, threshold, grade, kind = zip(*rows)
    out = {"seq": np.array(seq, np.int64), "score": np.array(score, np.float64),
           "threshold": np.array(threshold, np.float64),
           "grade": np.array(grade, np.float64), "row_kind": list(kind)}
    extras["mean_score"] = (
        extras["score_sum"] / extras["n_scored"] if extras["n_scored"] else 0.0
    )
    for name, ddl in _RESULT_COLS[4:]:
        out[name] = np.zeros(len(rows), np.int64 if ddl == "long" else np.float64)
        out[name][-1] = extras[name]
    return out


def _feature_matrix(col, seqs: np.ndarray, group: str, order_col: str) -> np.ndarray:
    """float64[n, d] matrix of a ``list<float|double>`` column: the group's
    batches combined into one list array whose flat child values are
    reshaped by its offsets. Every row must hold an array as wide as the
    group's first row (in ``order_col`` order); NULL elements stay NaN."""
    arr = col.combine_chunks()
    null = arr.is_null().to_numpy(zero_copy_only=False)
    if null.any():
        raise ValueError(
            f"drift_scores: NULL feature array in group {group} "
            f"at {order_col}={seqs[null].min()}"
        )
    widths = np.diff(arr.offsets.to_numpy())
    d = int(widths[np.argmin(seqs)])
    wrong = widths != d
    if wrong.any():
        i = np.flatnonzero(wrong)[np.argmin(seqs[wrong])]
        raise ValueError(
            f"drift_scores: feature array of length {widths[i]} in group "
            f"{group} at {order_col}={seqs[i]}; the group's first row has {d}"
        )
    flat = arr.flatten().to_numpy(zero_copy_only=False)
    return flat.astype(np.float64, copy=False).reshape(len(arr), d)


def _arrow_drift_fn(key_cols: list[str], order_col: str, feature_col: str, cfg: DriftConfig):
    """The ``applyInArrow`` adapter around ``drift_group`` (pickled to
    executors): Arrow group in, Arrow result table out."""
    import pyarrow as pa

    def fn(key, table):
        keyvals = tuple(k.as_py() for k in key)
        group = ", ".join(f"{c}={v!r}" for c, v in zip(key_cols, keyvals))
        seqs = np.asarray(table.column(order_col).to_numpy(), np.int64)
        X = _feature_matrix(table.column(feature_col), seqs, group, order_col)
        anchor = None
        if "__anchor" in table.column_names:
            # range blocks: the previous block's last real row rides along
            # as the one marked anchor row (see drift_scores)
            amask = table.column("__anchor").to_numpy() == 1
            if amask.any():
                a = np.flatnonzero(amask)[0]
                anchor = (int(seqs[a]), X[a])
                seqs, X = seqs[~amask], X[~amask]
        out = drift_group(keyvals, seqs, X, cfg, anchor)
        cols = {c: pa.repeat(k, len(out["seq"])) for c, k in zip(key_cols, key)}
        cols[order_col] = out.pop("seq")
        return pa.Table.from_pydict({**cols, **out})

    return fn


def drift_scores(
    df: DataFrame,
    feature_col: str = "features",
    group_cols: tuple[str, ...] = ("source",),
    order_col: str = "seq",
    cfg: DriftConfig | None = None,
) -> DataFrame:
    """Raw drift output: anomaly rows + one summary row per (group, bucket).

    Input must already carry ``feature_col`` (see functions.token_features)
    and a monotone ``order_col``. Only the needed columns cross the Arrow
    boundary (tokens etc. are pruned before the shuffle).
    """
    cfg = cfg or DriftConfig()
    if cfg.mode not in ("standard", "time_augmented", "streaming_impute"):
        raise ValueError(f"unknown ForestMode {cfg.mode!r}")
    if cfg.impute_method not in ("zero", "fixed", "previous", "next", "linear", "rcf"):
        raise ValueError(f"unknown ImputationMethod {cfg.impute_method!r}")
    _METHODS = ("none", "normalize", "difference", "normalize_difference",
                "weighted", "subtract_ma")
    if cfg.transform not in _METHODS:
        raise ValueError(f"unknown TransformMethod {cfg.transform!r}")
    if cfg.shingle_size < 1:
        raise ValueError("shingle_size must be >= 1")
    if cfg.mode == "streaming_impute" and cfg.impute_method == "rcf" and cfg.shingle_size > 1:
        # rcf_impute resolves gaps in BASE space (xn rows, before shingle
        # assembly) but the forest is built in shingle space (d·shingle
        # dims) — conditional_field would index base-dim vectors with
        # shingle-space cut dims (IndexError in the executor). The
        # reference's ImputePreprocessor imputes against its own shingled
        # forest; until that path exists here, reject the combination.
        raise ValueError(
            "impute_method='rcf' is not supported with shingle_size > 1 "
            "(gap imputation runs in base space; use previous/linear/... )"
        )
    if cfg.scoring not in (
        "expected_inverse_depth", "distance", "multi_mode", "multi_mode_recall"
    ):
        raise ValueError(f"unknown ScoringStrategy {cfg.scoring!r}")
    gcols = list(group_cols)
    if cfg.mode in ("streaming_impute", "time_augmented"):
        if cfg.buckets is not None:
            # explicit bucket count: gap detection / cadence measurement
            # needs the unsalted per-group stream, so hashing seqs into
            # buckets is never valid here — force a single stream
            # (tests/back-compat)
            cfg = replace(cfg, buckets=1)
            bucketed = df.select(
                *gcols, F.lit(0).alias("bucket"), F.col(order_col), F.col(feature_col)
            )
        else:
            # scale path: contiguous order_col RANGE blocks (≈ rows_per_
            # bucket grid slots each) instead of one task per group — a hot
            # key no longer maps to a single straggler task. Gaps inside a
            # block fill locally; gaps (and TIME_AUGMENTED dt) across block
            # boundaries resolve against the previous non-empty block's
            # last row (delivered as a marked anchor row), so the filled
            # grid / cadence stream is identical to the single-stream run.
            from pyspark.sql.window import Window

            span = max(1, cfg.expected_step * cfg.rows_per_bucket)
            bucketed = df.select(
                *gcols,
                F.floor(F.col(order_col) / F.lit(span)).cast("int").alias("bucket"),
                F.col(order_col),
                F.col(feature_col),
                F.lit(0).alias("__anchor"),
            )
            blocks = bucketed.groupBy(*gcols, "bucket").agg(
                F.max(order_col).alias(order_col),
                F.max_by(feature_col, F.col(order_col)).alias(feature_col),
            )
            wspec = Window.partitionBy(*gcols).orderBy("bucket")
            anchors = (
                blocks.select(
                    *gcols,
                    F.col("bucket"),
                    F.lag(order_col).over(wspec).alias(order_col),
                    F.lag(feature_col).over(wspec).alias(feature_col),
                )
                .filter(F.col(order_col).isNotNull())
                .withColumn("__anchor", F.lit(1))
            )
            bucketed = bucketed.unionByName(anchors.select(*bucketed.columns))
            # task-granularity: total range-block count from one tiny
            # driver row over the per-group order spans (same rationale
            # as the standard path — CPU-bound blocks must not hash-pack)
            span_row = df.groupBy(*gcols).agg(
                (
                    F.ceil((F.max(order_col) - F.min(order_col)) / F.lit(span)) + 1
                ).alias("__blocks")
            ).agg(F.sum("__blocks").alias("b")).first()
            cfg = replace(
                cfg, extra={**cfg.extra, "__total_buckets": int(span_row["b"] or 0)}
            )
    else:
        # salt the (skewed) group key into bounded buckets. With buckets=
        # None the bucket count adapts per group value (ceil(rows/rows_per_
        # bucket), capped): the hot key (web ≈ 80%) splits into many bounded
        # tasks while small keys keep one warm forest instead of many cold
        # ones. The per-key count is computed distributively and joined
        # back (no driver-side collect — group_cols may be high-cardinality).
        def salted(frame: DataFrame, n_buckets) -> DataFrame:
            bucket = F.pmod(F.xxhash64(F.col(order_col), F.lit(cfg.seed)), n_buckets)
            return frame.select(
                *gcols, bucket.cast("int").alias("bucket"), F.col(order_col), F.col(feature_col)
            )

        if cfg.buckets is not None:
            bucketed = salted(df, F.lit(cfg.buckets))
        else:
            nb = F.greatest(
                F.lit(1),
                F.least(
                    F.lit(cfg.max_buckets),
                    F.ceil(F.col("__group_rows") / F.lit(cfg.rows_per_bucket)),
                ),
            ).cast("long")
            counts = df.groupBy(*gcols).agg(
                F.count(F.lit(1)).alias("__group_rows")
            ).select(*gcols, nb.alias("__nb")).cache()
            # ONE tiny driver-side row over the AGGREGATED counts (never
            # the fact table): the total bucket count sizes the explicit
            # repartition below. Without it the CPU-bound grouped map
            # hash-packs several forests per task (measured: 162 buckets
            # into 64 partitions → 35s wall vs a 15s ideal makespan).
            tot = counts.agg(
                F.sum("__nb").alias("b"), F.count(F.lit(1)).alias("g")
            ).first()
            total_buckets, n_groups = int(tot["b"] or 0), int(tot["g"] or 0)
            if n_groups and n_groups <= 1000 and len(gcols) == 1:
                # small group cardinality (the common case: group = source
                # with tens of values): inline the per-group bucket count
                # as a literal map — no join, no second broadcast
                rows = counts.collect()
                kv: list = []
                for r in rows:
                    kv.extend([F.lit(r[gcols[0]]), F.lit(int(r["__nb"]))])
                counts.unpersist()
                # try_element_at: ANSI-safe on a missing/null key (the
                # driver gate runs with spark.sql.ansi.enabled=true)
                nb_col = F.coalesce(
                    F.try_element_at(F.create_map(*kv), F.col(gcols[0])), F.lit(1)
                )
                bucketed = salted(df, nb_col)
            else:
                # high-cardinality groups: broadcast-join the aggregated
                # counts (still no raw-row collect)
                bucketed = salted(
                    df.join(F.broadcast(counts), gcols, "left"),
                    F.coalesce(F.col("__nb"), F.lit(1)),
                )
            cfg = replace(cfg, extra={**cfg.extra, "__total_buckets": total_buckets})
    key_cols = gcols + ["bucket"]
    # Explicit user repartition on the group key: the UDF is CPU-bound, so
    # we must NOT let AQE coalesce the (byte-wise tiny) shuffle into a few
    # fat Python tasks. A user-specified numPartitions is exempt from AQE
    # coalescing, and the grouped-map below reuses this exchange.
    #
    # Partition-count sizing: the grouped map is CPU-bound, so the task
    # granularity must approach one bucket per partition. Hash-packing
    # k≈2-5 buckets per task makes the stage makespan the MAX bucket
    # load, ~2× the mean by Poisson imbalance (measured: the local[16]
    # leg ran 2× its ideal makespan at 320 buckets / 128 partitions,
    # while local[4] ran near-ideal — i.e. the imbalance itself read as
    # a scaling-efficiency loss). With B known, use 2·B partitions up to
    # a 30k task budget; past that, B/partition is large enough that
    # hash averaging keeps tasks even (CV ≈ sqrt(P/B) ≤ 3%). Task
    # scheduling costs ~ms — noise against CPU-bound forest tasks.
    sc = df.sparkSession.sparkContext
    dp = sc.defaultParallelism
    known_b = cfg.extra.get("__total_buckets") or (
        cfg.buckets if cfg.buckets is not None else 0
    )
    if known_b:
        n_part = cfg.extra.get("parallelism") or max(16, min(2 * known_b, 30_000))
    else:
        n_part = cfg.extra.get("parallelism") or max(dp * 2, 16)
    # the feature array crosses the exchange and the Arrow boundary as-is:
    # the grouped map reads it as one flat child-value buffer, so no
    # driver job probes its width and no per-row objects are built
    bucketed = bucketed.repartition(n_part, *key_cols)
    schema_prefix = ", ".join(
        f"{c} {t}" for c, t in bucketed.select(*key_cols).dtypes
    )
    out_schema = f"{schema_prefix}, {order_col} long, " + ", ".join(
        f"{c} {t}" for c, t in _RESULT_COLS
    )
    fn = _arrow_drift_fn(key_cols, order_col, feature_col, cfg)
    return bucketed.groupBy(*key_cols).applyInArrow(fn, schema=out_schema)


def drift_verdicts(raw: DataFrame, group_cols=("source",), cfg: DriftConfig | None = None) -> DataFrame:
    """Per-group verdict merged across buckets (mean of bucket stats)."""
    cfg = cfg or DriftConfig()
    s = raw.filter(F.col("row_kind") == "summary")
    agg = s.groupBy(*group_cols).agg(
        F.sum("n_rows").alias("n_rows"),
        F.sum("n_scored").alias("n_scored"),
        F.sum("n_anomalous").alias("n_anomalous"),
        F.sum("n_windows").alias("n_windows"),
        F.sum("n_drifted_windows").alias("n_drifted_windows"),
        F.sum("n_imputed").alias("n_imputed"),
        (F.sum(F.col("mean_score") * F.col("n_scored")) / F.sum("n_scored")).alias(
            "mean_score"
        ),
    )
    rate = F.col("n_anomalous").cast("double") / F.greatest(F.col("n_scored"), F.lit(1))
    return agg.withColumn("anomaly_rate", rate).withColumn(
        "passed",
        F.when(F.col("n_windows") == 0, F.lit(None).cast("boolean")).otherwise(
            F.col("n_drifted_windows") == 0
        ),
    )


def drift_anomalies(raw: DataFrame) -> DataFrame:
    return raw.filter(F.col("row_kind") == "anomaly").drop(
        "row_kind", "n_rows", "n_scored", "n_anomalous", "n_imputed", "mean_score"
    )


def drift_lineage(
    raw: DataFrame,
    group_cols=("source",),
    cfg: DriftConfig | None = None,
) -> DataFrame:
    """Per-partition lineage: one row per (group, bucket) processing unit.

    The north-star contract records "per-partition lineage and metrics to
    an Iceberg metrics table": which physical slices of the stream were
    processed, how many rows each contributed, and what the drift sketch
    concluded there. ``drift_verdicts`` aggregates buckets away; this
    keeps the bucket grain — the same grain as the resume checkpoints
    (one npz per (group, bucket)), so a lineage row is the audit record
    for exactly one checkpointable unit of work.

    Pure reshape of the summary rows the grouped map already emits — no
    extra shuffle (reuses the cached raw plan) and no hot-path change.
    ``config_digest`` fingerprints the DriftConfig so re-runs with
    different hyperparameters are distinguishable in the metrics table.
    """
    cfg = cfg or DriftConfig()
    core = {
        k: v for k, v in vars(cfg).items() if k != "extra" and not callable(v)
    }
    digest = hashlib.blake2b(
        repr(sorted(core.items(), key=lambda kv: kv[0])).encode(), digest_size=8
    ).hexdigest()
    s = raw.filter(F.col("row_kind") == "summary")
    rate = F.col("n_anomalous").cast("double") / F.greatest(F.col("n_scored"), F.lit(1))
    return s.select(
        *group_cols,
        "bucket",
        "n_rows",
        "n_scored",
        "n_anomalous",
        "n_windows",
        "n_drifted_windows",
        "n_imputed",
        "mean_score",
    ).withColumn("anomaly_rate", rate).withColumn(
        "config_digest", F.lit(digest)
    )
