"""Structured Streaming drift: stateful scoring over micro-batches with
forest state carried in GroupState (availableNow trigger + memory sink)."""

from __future__ import annotations

import numpy as np

from random_cut_forest_by_aws_spark.functions import token_features
from random_cut_forest_by_aws_spark.operators.drift import DriftConfig
from random_cut_forest_by_aws_spark.sources import sequences
from random_cut_forest_by_aws_spark.streaming import streaming_drift_scores


def test_streaming_drift_scores(spark, tmp_path, finish_stream):
    src_dir = str(tmp_path / "stream_src")
    ckpt = str(tmp_path / "stream_ckpt")
    df = sequences(spark, 6000, seed=42, violations=False, drift=True)
    feat = df.withColumn("features", token_features()).select("source", "seq", "features")
    feat.write.mode("overwrite").parquet(src_dir)

    stream = (
        spark.readStream.schema(feat.schema).option("maxFilesPerTrigger", "2").parquet(src_dir)
    )
    cfg = DriftConfig(num_trees=10, sample_size=32, chunk_size=512, buckets=2)
    out = streaming_drift_scores(stream, cfg=cfg)
    q = (
        out.writeStream.format("memory")
        .queryName("drift_stream_out")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    finish_stream(q)
    res = spark.sql("SELECT * FROM drift_stream_out").toPandas()
    assert len(res) > 0
    assert {"source", "bucket", "seq", "score", "threshold", "grade"} <= set(res.columns)
    assert (res["score"] >= 0).all()
    # web rows should be scored once warm
    web = res[res["source"] == "web"]
    assert len(web) > 1000
    assert np.isfinite(web["score"]).all()


def test_streaming_drift_subtract_ma_transform(spark, tmp_path, finish_stream):
    """Streaming supports the full TransformMethod set (parity with the
    batch operator): SUBTRACT_MA carries its discounted mean (and the
    difference transform's tlast) across micro-batches in GroupState."""
    src_dir = str(tmp_path / "s2_src")
    ckpt = str(tmp_path / "s2_ckpt")
    df = sequences(spark, 4000, seed=7, violations=False, drift=False)
    feat = df.withColumn("features", token_features()).select("source", "seq", "features")
    feat.write.mode("overwrite").parquet(src_dir)
    stream = (
        spark.readStream.schema(feat.schema).option("maxFilesPerTrigger", "2").parquet(src_dir)
    )
    cfg = DriftConfig(num_trees=10, sample_size=32, chunk_size=512, buckets=1,
                      transform="subtract_ma", norm_discount=0.02)
    out = streaming_drift_scores(stream, cfg=cfg)
    q = (
        out.writeStream.format("memory").queryName("drift_stream_sub")
        .option("checkpointLocation", ckpt).trigger(availableNow=True).start()
    )
    finish_stream(q)
    res = spark.sql("SELECT * FROM drift_stream_sub").toPandas()
    assert len(res) > 1000
    assert np.isfinite(res["score"]).all()
    assert (res["score"] >= 0).all()


def test_streaming_drift_shingled_matches_batch(spark, tmp_path, finish_stream):
    """shingle_size > 1 in streaming: the transformed-row tail rides
    GroupState, so windows spanning micro-batch boundaries score exactly
    like the batch operator over the same unbroken stream."""
    import pandas as pd

    src_dir = str(tmp_path / "s3_src")
    ckpt = str(tmp_path / "s3_ckpt")
    rng = np.random.default_rng(3)
    n = 3000
    vals = rng.normal(0.0, 0.5, (n, 2))
    pdf = pd.DataFrame(
        {"source": "s", "seq": np.arange(n),
         "features": [[float(a), float(b)] for a, b in vals]}
    )
    feat = spark.createDataFrame(pdf)
    # ordered delivery: contiguous seq ranges, one file per micro-batch
    # (FileStreamSource orders by mtime then path — ascending names keep
    # range order on ms-granularity ties); cross-batch ordering is the
    # stream's responsibility per the operator contract
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(src_dir, exist_ok=True)
    for i in range(6):
        part = pdf.iloc[i * 500 : (i + 1) * 500]
        pq.write_table(
            pa.Table.from_pandas(part, preserve_index=False),
            os.path.join(src_dir, f"part-{i:03d}.parquet"),
        )
    stream = (
        spark.readStream.schema(feat.schema)
        .option("maxFilesPerTrigger", "1")
        .option("latestFirst", "false")
        .parquet(src_dir)
    )
    cfg = DriftConfig(num_trees=10, sample_size=32, chunk_size=256, buckets=1,
                      shingle_size=4, transform="none", use_corrector=False)
    out = streaming_drift_scores(stream, cfg=cfg)
    q = (
        out.writeStream.format("memory").queryName("drift_stream_sh")
        .option("checkpointLocation", ckpt).trigger(availableNow=True).start()
    )
    finish_stream(q)
    res = spark.sql("SELECT * FROM drift_stream_sh").toPandas()
    # batch reference over the same rows, same config
    from random_cut_forest_by_aws_spark.operators.drift import drift_group

    bref = pd.DataFrame(drift_group(("s", 0), np.arange(n), vals, cfg))
    # streaming emits per-row descriptors; compare score series
    got = res.sort_values("seq")[["seq", "score"]].reset_index(drop=True)
    s = bref[bref.row_kind == "summary"].iloc[0]
    # same shingle warmup (first s−1 ticks consumed) modulo score-then-
    # update chunk-boundary placement, which differs between the batch
    # grid and micro-batch arrival
    assert abs(len(got) - s.n_scored) <= cfg.chunk_size
    assert got["seq"].min() >= cfg.shingle_size - 1
    # stationary gaussian stream: both paths score ≈ the same level
    assert abs(got["score"].mean() - s.mean_score) < 0.1
    assert np.isfinite(got["score"]).all()
