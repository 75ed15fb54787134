"""Drift operator end-to-end: the planted drifted partition (source=code,
second half by seq — FIXTURES.md §3) must fail; stationary sources pass.
Plus checkpoint/resume equivalence and normalizer closed-form math."""

from __future__ import annotations

import numpy as np
import pytest

from random_cut_forest_by_aws_spark.core.thresholder import Deviation
from random_cut_forest_by_aws_spark.functions import token_features
from random_cut_forest_by_aws_spark.operators.drift import (
    DriftConfig,
    _checkpoint_path,
    _feature_matrix,
    _load_group_state,
    _Normalizer,
    _write_group_state,
    drift_anomalies,
    drift_group,
    drift_scores,
    drift_verdicts,
)
from random_cut_forest_by_aws_spark.sources import sequences


def _cfg(**kw):
    base = dict(
        num_trees=20, sample_size=64, chunk_size=512, buckets=1, seed=42,
        window=64, min_baseline_windows=5,
    )
    base.update(kw)
    return DriftConfig(**base)


@pytest.fixture(scope="module")
def feat_df(spark):
    df = sequences(spark, 20_000, seed=42, violations=False, drift=True)
    return df.withColumn("features", token_features()).select(
        "source", "seq", "features"
    ).cache()


def test_normalizer_matches_sequential_deviation():
    rng = np.random.default_rng(0)
    X = rng.normal(3.0, 2.0, size=(500, 2))
    n = _Normalizer(2, discount=0.01, clip=100.0)
    d0, d1 = Deviation(0.01), Deviation(0.01)
    for lo, hi in [(0, 100), (100, 101), (101, 350), (350, 500)]:
        n.update(X[lo:hi])
    for x in X:
        d0.update(x[0])
        d1.update(x[1])
    assert n.weight == pytest.approx(d0.weight, rel=1e-9)
    assert n.sum[0] == pytest.approx(d0.sum, rel=1e-9)
    assert n.sumsq[1] == pytest.approx(d1.sum_squared, rel=1e-9)


def test_drift_verdicts_flag_planted_partition(feat_df):
    cfg = _cfg()
    raw = drift_scores(feat_df, cfg=cfg).cache()
    verdicts = drift_verdicts(raw, cfg=cfg).toPandas().set_index("source")
    assert not verdicts.loc["code", "passed"]
    assert verdicts.loc["code", "n_drifted_windows"] >= 1
    for src in ["web", "books", "wiki"]:
        assert verdicts.loc[src, "passed"], f"{src} should pass: {verdicts.loc[src]}"
    # drifted windows sit in the drifted half of the stream (seq ≥ 10k)
    wins = raw.filter("row_kind = 'window'").toPandas()
    assert (wins[wins["source"] == "code"]["seq"] >= 10_000).all()
    raw.unpersist()


def test_drift_bucketing_splits_hot_source(feat_df):
    cfg = _cfg(buckets=4, sample_size=32, num_trees=10, window=32, min_baseline_windows=3)
    raw = drift_scores(feat_df, cfg=cfg)
    s = raw.filter("row_kind = 'summary'").toPandas()
    web = s[s["source"] == "web"]
    assert len(web) == 4  # hot source split across 4 bounded tasks
    assert web["n_rows"].max() < 0.5 * web["n_rows"].sum()
    verdicts = drift_verdicts(raw, cfg=cfg).toPandas().set_index("source")
    assert not verdicts.loc["code", "passed"]


def test_drift_checkpoint_resume_equivalence(spark, feat_df, tmp_path):
    """Resume from checkpoint ⇒ scores bit-identical to uninterrupted run
    (reference state-mapper round-trip analogue)."""
    cfg_plain = _cfg()
    full = drift_scores(feat_df, cfg=cfg_plain).toPandas()

    ckpt = str(tmp_path / "ckpt")
    cfg_ck = _cfg(checkpoint_dir=ckpt)
    part1 = feat_df.filter("seq < 12000")
    drift_scores(part1, cfg=cfg_ck).collect()  # first run: materialize state
    resumed = drift_scores(feat_df, cfg=cfg_ck).toPandas()  # full input, resume

    f_an = full[(full.row_kind == "anomaly") & (full.seq >= 12000)]
    r_an = resumed[resumed.row_kind == "anomaly"]
    key = ["source", "bucket", "seq"]
    f_an = f_an.sort_values(key).reset_index(drop=True)
    r_an = r_an[r_an.seq >= 12000].sort_values(key).reset_index(drop=True)
    assert len(f_an) == len(r_an)
    assert (f_an["seq"].values == r_an["seq"].values).all()
    np.testing.assert_array_equal(f_an["score"].values, r_an["score"].values)
    np.testing.assert_array_equal(f_an["grade"].values, r_an["grade"].values)
    # cumulative totals match the uninterrupted run exactly
    f_sum = full[full.row_kind == "summary"].sort_values(["source", "bucket"])
    r_sum = resumed[resumed.row_kind == "summary"].sort_values(["source", "bucket"])
    np.testing.assert_array_equal(f_sum["n_scored"].values, r_sum["n_scored"].values)
    np.testing.assert_array_equal(
        f_sum["n_anomalous"].values, r_sum["n_anomalous"].values
    )


def test_drift_rerun_after_completion_is_noop(spark, feat_df, tmp_path):
    ckpt = str(tmp_path / "ckpt2")
    cfg = _cfg(checkpoint_dir=ckpt, buckets=1)
    first = drift_scores(feat_df, cfg=cfg).toPandas()
    second = drift_scores(feat_df, cfg=cfg).toPandas()  # all rows ≤ watermark
    s1 = first[first.row_kind == "summary"].sort_values(["source", "bucket"])
    s2 = second[second.row_kind == "summary"].sort_values(["source", "bucket"])
    np.testing.assert_array_equal(s1["n_rows"].values, s2["n_rows"].values)
    assert (second[second.row_kind == "anomaly"]).empty  # nothing new to flag
    assert (second[second.row_kind == "window"]).empty  # replayed tail windows too


def test_streaming_impute_range_blocked_matches_single_stream(spark):
    """STREAMING_IMPUTE scale path: contiguous order_col range blocks
    (rows_per_bucket grid slots each) instead of one task per group. The
    filled grid — including gaps that cross block boundaries, anchored at
    the previous block's last row — must match the single-stream run
    (same totals, full grid restored); a hot group runs as multiple
    tasks."""
    import pandas as pd

    n = 4000
    rng = np.random.default_rng(3)
    keep = np.ones(n, bool)
    keep[990:1010] = False    # gap crossing block boundary at 1000
    keep[1995:2005] = False   # gap crossing block boundary at 2000
    keep[500:505] = False     # interior gap
    vals = rng.normal(0.0, 1.0, (n, 2))
    pdf = pd.DataFrame(
        {
            "source": "s",
            "seq": np.arange(n)[keep],
            "features": [[float(a), float(b)] for a, b in vals[keep]],
        }
    )
    df = spark.createDataFrame(pdf)
    base = dict(
        num_trees=10, sample_size=32, chunk_size=256, window=64,
        min_baseline_windows=3, use_corrector=False,
        mode="streaming_impute", impute_method="linear",
    )
    out_s = drift_scores(
        df, "features", ("source",), "seq", DriftConfig(**base, buckets=1)
    ).toPandas()
    out_b = drift_scores(
        df, "features", ("source",), "seq",
        DriftConfig(**base, rows_per_bucket=1000),
    ).toPandas()
    ss = out_s[out_s.row_kind == "summary"]
    sb = out_b[out_b.row_kind == "summary"]
    assert len(ss) == 1 and len(sb) == 4  # 4 bounded range blocks
    n_gap = int((~keep).sum())
    assert int(ss.n_imputed.sum()) == n_gap
    assert int(sb.n_imputed.sum()) == n_gap  # boundary gaps still filled
    assert int(ss.n_rows.sum()) == n  # full grid restored
    assert int(sb.n_rows.sum()) == n
    # no anomaly ever emitted at an imputed grid position
    gap_seqs = set(np.arange(n)[~keep].tolist())
    for out in (out_s, out_b):
        emitted = set(out[out.row_kind == "anomaly"]["seq"].tolist())
        assert not (emitted & gap_seqs)


def test_time_augmented_range_blocked_cadence(spark):
    """TIME_AUGMENTED in range-blocked execution: dt at block boundaries
    comes from the previous block's last seq (anchor row), so a hot group
    splits into bounded tasks and a cadence shift is still flagged."""
    import pandas as pd

    n = 4000
    seqs = np.concatenate(
        [np.arange(0, 20000, 10), 20000 + np.arange(n - 2000)]
    )  # cadence 10 → 1 at midpoint
    pdf = pd.DataFrame(
        {"source": "s", "seq": seqs, "features": [[1.0, 2.0]] * n}
    )
    df = spark.createDataFrame(pdf)
    base = dict(
        num_trees=10, sample_size=64, chunk_size=256, window=64,
        min_baseline_windows=3, use_corrector=False, mode="time_augmented",
    )
    out = drift_scores(
        df, "features", ("source",), "seq",
        DriftConfig(**base, rows_per_bucket=3000),
    ).toPandas()
    sb = out[out.row_kind == "summary"]
    assert len(sb) > 1  # hot group split into multiple range blocks
    assert int(sb.n_rows.sum()) == n
    # the cadence shift registers as drift in the block containing it
    assert int(sb.n_drifted_windows.sum()) >= 1


def test_adaptive_bucketing_join_fallback_multi_group_cols(spark, seqs):
    """Multi-column group keys take the broadcast-join counts path (the
    literal-map inline only applies to single low-cardinality keys);
    verdicts must match the single-column run's totals."""
    from pyspark.sql import functions as F

    from random_cut_forest_by_aws_spark.functions import token_features
    from random_cut_forest_by_aws_spark.operators.drift import (
        DriftConfig, drift_scores,
    )

    feat = seqs.withColumn("features", token_features()).withColumn(
        "g2", F.lit("x")
    ).select("source", "g2", "seq", "features")
    cfg = DriftConfig(num_trees=5, sample_size=32, rows_per_bucket=2000)
    raw = drift_scores(feat, "features", ("source", "g2"), "seq", cfg)
    s = raw.filter(F.col("row_kind") == "summary")
    agg = s.agg(F.sum("n_rows").alias("n"), F.sum("n_scored").alias("ns")).first()
    assert agg["n"] == seqs.count()
    assert agg["ns"] > 0


def test_drift_lineage_bucket_grain_consistent_with_verdicts(feat_df):
    """Lineage keeps the (group, bucket) grain — one row per checkpoint
    unit — and its counters aggregate exactly to the verdict table."""
    from random_cut_forest_by_aws_spark.operators.drift import (
        drift_lineage, drift_scores, drift_verdicts,
    )

    cfg = _cfg(buckets=None, rows_per_bucket=2000)
    raw = drift_scores(feat_df, "features", ("source",), "seq", cfg).cache()
    lin = drift_lineage(raw, ("source",), cfg).toPandas()
    dv = drift_verdicts(raw, ("source",), cfg).toPandas().set_index("source")

    # grain: one row per (source, bucket), matching the summary rows
    assert not lin.duplicated(["source", "bucket"]).any()
    n_sum = raw.filter("row_kind = 'summary'").count()
    assert len(lin) == n_sum
    # hot-source split: at least one group spans multiple buckets
    assert lin.groupby("source")["bucket"].nunique().max() > 1

    g = lin.groupby("source")[
        ["n_rows", "n_scored", "n_anomalous", "n_windows", "n_drifted_windows"]
    ].sum()
    for src, row in g.iterrows():
        for c in g.columns:
            assert int(row[c]) == int(dv.loc[src][c]), (src, c)
    # config fingerprint is present and constant per run
    assert lin["config_digest"].nunique() == 1
    raw.unpersist()


@pytest.mark.parametrize("bad, message", [
    ("CAST(NULL AS array<double>)", "NULL feature array"),
    ("array(1.0D, 2.0D, 3.0D)", "feature array of length 3"),
    ("array(1.0D)", "feature array of length 1"),
])
def test_drift_rejects_null_and_wrong_width_feature_arrays(spark, bad, message):
    """One NULL, longer or shorter feature array fails the run with a
    ValueError naming the group and the order_col value — never a
    truncated row, an anonymous index error or a NaN point."""
    from pyspark.sql import functions as F

    ok = F.array(F.col("id").cast("double"), F.lit(1.0))
    df = spark.range(200).select(
        F.lit("s").alias("source"), F.col("id").alias("seq"),
        F.when(F.col("id") == 57, F.expr(bad)).otherwise(ok).alias("features"),
    )
    match = rf"ValueError: drift_scores: {message} in group source='s', bucket=0 at seq=57"
    with pytest.raises(Exception, match=match):
        drift_scores(df, cfg=_cfg(num_trees=5, sample_size=16)).collect()


def test_feature_matrix_reads_flat_values_and_keeps_null_elements():
    """The Arrow ingest: list<float> chunks become one float64 matrix; a
    NULL element inside an array stays NaN."""
    import pyarrow as pa

    col = pa.chunked_array([pa.array([[1.5, None], [2.0, 3.0]], pa.list_(pa.float32())),
                            pa.array([[4.0, 5.0]], pa.list_(pa.float32()))])
    X = _feature_matrix(col, np.array([3, 1, 2]), "g", "seq")
    assert X.dtype == np.float64
    np.testing.assert_array_equal(X, [[1.5, np.nan], [2.0, 3.0], [4.0, 5.0]])
    short = pa.chunked_array([pa.array([[1.0, 2.0], [3.0], [4.0, 5.0]])])
    with pytest.raises(ValueError, match="length 1 in group g at seq=2; the group's first row has 2"):
        _feature_matrix(short, np.array([1, 2, 3]), "g", "seq")


def test_checkpoint_writers_do_not_share_a_temp_file(tmp_path, monkeypatch):
    """Two attempts of one task (a speculative copy, a zombie retry)
    writing one group checkpoint at once: each fills its own temp file,
    both publish, and a complete state remains with no stray temp file."""
    import os
    import threading

    cfg = _cfg(num_trees=5, sample_size=16, checkpoint_dir=str(tmp_path))
    drift_group(("s", 0), np.arange(300), np.random.default_rng(0).normal(size=(300, 2)), cfg)
    with np.load(_checkpoint_path(str(tmp_path), ("s", 0))) as z:
        state = {k: z[k] for k in z.files}
    target = str(tmp_path / "dst" / "group.npz")
    both_written, real_replace, errors = threading.Barrier(2), os.replace, []

    def replace_after_both_wrote(src, dst):
        both_written.wait(timeout=30)
        real_replace(src, dst)

    def writer():
        try:
            _write_group_state(target, state)
        except Exception as e:  # asserted below
            errors.append(e)

    monkeypatch.setattr(os, "replace", replace_after_both_wrote)
    threads = [threading.Thread(target=writer) for _ in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(60)
        assert not t.is_alive()
    assert errors == [] and os.listdir(tmp_path / "dst") == ["group.npz"]
    _load_group_state(target)
    with np.load(target) as z:
        assert all(np.array_equal(z[k], v) for k, v in state.items())
