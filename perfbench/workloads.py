"""Workload inputs, operations and output checks.

Both workloads read the engine's primary input, the tokenized-sequence
table that ``sources.sequences`` synthesizes from a seed (planted
duplicate keys, NULL keys, n_tok mismatches, a drifted ``code`` half;
FIXTURES.md), written to parquet in the run's own work directory, plus
the ``sources_dim`` dimension that deliberately lacks ``forums``.

* ``suite_full`` runs ``ValidationSuite.run`` and consumes its verdicts
  and violations: the product's headline operation, where the drift
  phase's grouped map (per-row forest update and score) is the largest
  share.
* ``drift_resume`` runs checkpointed drift over the first half of the
  stream, then resumes it over the second half: many small groups, so
  per-group fixed costs (forest build, state save and load, per-group
  Arrow batches) dominate instead of per-row work, on the write path
  that ``suite_full`` never takes.

``constraints_scan`` (the drift-free checks: no Python worker, no forest)
is not a workload: its run-to-run spread on a shared 4-core host was too
wide for a bound (README.md). Traced ``suite_full`` runs call it once to
report its layers.

Every operation's output is reduced to plain Python values; ``digest``
fingerprints them and ``check`` compares them with a pure-pyarrow oracle
computed from the same parquet, independent of Spark, and, for
``drift_resume``, with one uninterrupted drift run.
"""

from __future__ import annotations

import hashlib
import io
import os
import shutil
import tempfile
import time
from contextlib import nullcontext

import numpy as np

ROWS = 60_000
PARTITIONS = 8  # parquet files; fixed so the layout does not follow the host

# bench.py's drift configuration for the suite (rows_per_bucket sizes the
# (source, bucket) groups of the grouped map)
SUITE_DRIFT = dict(num_trees=30, sample_size=256, rows_per_bucket=12_500)
# drift_resume: a FIXED bucket count, so both halves of the stream hash
# every row to the same (source, bucket) checkpoint as one whole run does
# (8 buckets x 5 sources = 40 groups, ~1,500 rows on average; web's
# 80% share makes its groups the largest)
RESUME_DRIFT = dict(num_trees=30, sample_size=256, buckets=8)
DIM_SOURCES = ("web", "books", "code", "wiki")  # sources_dim() lacks forums
SUITE_PHASES = ("column_stats", "drift", "referential", "token_invariants", "uniqueness")
SCAN_LAYERS = ("stats", "uniqueness", "referential", "constraints", "checks", "distdrift", "diff")

WORKLOADS = ("suite_full", "drift_resume")


def generate(spark, seed: int, out_dir: str) -> str:
    """Write the seeded sequence table; returns its parquet path."""
    from random_cut_forest_by_aws_spark.sources import sequences

    path = os.path.join(out_dir, "sequences.parquet")
    sequences(spark, ROWS, seed=seed, partitions=PARTITIONS).write.mode(
        "overwrite"
    ).parquet(path)
    return path


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


def _norm(v):
    """Plain, digest-stable value: floats to 6 significant digits, since
    partial aggregates sum in shuffle-arrival order."""
    if isinstance(v, float):
        return float(f"{v:.6g}")
    if isinstance(v, (list, tuple)):  # Spark Rows are tuples
        return tuple(_norm(x) for x in v)
    return v


def digest(out: dict) -> str:
    keep = {k: v for k, v in out.items() if not k.startswith("_")}
    return hashlib.sha256(repr(sorted(keep.items())).encode()).hexdigest()[:16]


# ---- operations --------------------------------------------------------
def suite_full(ctx, span=None) -> dict:
    from random_cut_forest_by_aws_spark.operators.drift import DriftConfig
    from random_cut_forest_by_aws_spark.plans import SuiteConfig, ValidationSuite

    span = span or (lambda name: nullcontext())
    cfg = SuiteConfig(drift=DriftConfig(**SUITE_DRIFT), concurrent=False)
    with span("suite"):
        res = ValidationSuite(ctx.spark, cfg).run(ctx.seqs, ref_dim=ctx.dim)
        verdicts = res.verdicts.collect()
        n_violations = res.violations.count()
    return {
        "verdicts": sorted(
            (r["check"], r["scope"], bool(r["passed"]), int(r["violation_count"]))
            for r in verdicts
        ),
        "violations": int(n_violations),
        "_result": res,
    }


def constraints_scan(ctx, span=None) -> dict:
    from pyspark.sql import functions as F

    from random_cut_forest_by_aws_spark.operators import (
        column_stats,
        referential_violations,
        token_equality_violations,
        uniqueness_violations,
    )
    from random_cut_forest_by_aws_spark.operators.checks import Check
    from random_cut_forest_by_aws_spark.operators.diff import snapshot_diff_summary
    from random_cut_forest_by_aws_spark.operators.distdrift import snapshot_drift_multi

    span = span or (lambda name: nullcontext())
    s = ctx.seqs
    out: dict = {}
    with span("constraints_scan"):
        with span("stats"):
            out["stats"] = sorted(_norm(r) for r in column_stats(
                s, ["n_tok"], key_cols=["doc_id", "source"], group_by=["source"]
            ).collect())
        with span("uniqueness"):
            out["uniqueness"] = uniqueness_violations(s, ["doc_id"]).count()
        with span("referential"):
            out["referential"] = sorted(_norm(r) for r in referential_violations(
                s, ctx.dim, ["source"]
            ).collect())
        with span("constraints"):
            out["constraints"] = token_equality_violations(s).count()
        with span("checks"):
            chk = (
                Check("perfbench_rules")
                .is_complete("doc_id")
                .satisfies("n_tok >= 1", "ntok_pos", min_fraction=1.0)
                .has_mean("n_tok", at_least=0.0)
                .has_correlation("n_tok", "seq", at_least=-1.0)
                .is_unique("doc_id")
                .run(s)
            )
            out["checks"] = sorted(
                _norm((r["constraint"], r["passed"], r["metric"], r["n_violations"]))
                for r in chk.collect()
            )
        with span("distdrift"):
            base = s.filter(F.col("seq") % 2 == 0)
            curr = s.filter(F.col("seq") % 2 == 1)
            out["distdrift"] = sorted(_norm(r) for r in snapshot_drift_multi(
                base, curr, {"n_tok": 8.0, "source": None}
            ).collect())
        with span("diff"):
            # a prior snapshot with 10% of keys dropped and n_tok bumped on
            # ~1/7 of the rest (bench.py's reconcile shape)
            prior = s.filter(F.xxhash64("doc_id") % 10 != 0).withColumn(
                "n_tok",
                F.when(F.xxhash64("doc_id") % 7 == 0, F.col("n_tok") + 1)
                .otherwise(F.col("n_tok")),
            )
            out["diff"] = sorted(
                _norm(r) for r in snapshot_diff_summary(prior, s, "doc_id").collect()
            )
    return out


def _drift_input(ctx):
    from random_cut_forest_by_aws_spark.functions import token_features

    return ctx.seqs.withColumn("features", token_features()).select("source", "seq", "features")


def _summaries(raw) -> list[tuple]:
    cols = ["source", "bucket", "n_rows", "n_scored", "n_anomalous", "n_windows",
            "n_drifted_windows", "n_imputed", "mean_score"]
    return sorted(tuple(r) for r in raw.filter("row_kind = 'summary'").select(*cols).collect())


def _drift(df, cfg) -> tuple[list, list]:
    from random_cut_forest_by_aws_spark.operators.drift import drift_scores, drift_verdicts

    raw = drift_scores(df, cfg=cfg).localCheckpoint(eager=True)
    verdicts = sorted((r["source"], r["passed"]) for r in drift_verdicts(raw, cfg=cfg).collect())
    return _summaries(raw), verdicts


def drift_resume(ctx, span=None) -> dict:
    from pyspark.sql import functions as F

    from random_cut_forest_by_aws_spark.operators.drift import DriftConfig

    span = span or (lambda name: nullcontext())
    feat = _drift_input(ctx)
    half = ROWS // 2
    ckpt = tempfile.mkdtemp(prefix="ckpt-")  # a fresh checkpoint dir per operation
    cfg = DriftConfig(**RESUME_DRIFT, checkpoint_dir=ckpt)
    with span("drift_resume"):
        with span("drift.resume_first"):  # writes the state
            _drift(feat.filter(F.col("seq") < half), cfg)
        with span("drift.resume_second"):  # loads, continues and rewrites it
            summaries, verdicts = _drift(feat.filter(F.col("seq") >= half), cfg)
    files = [os.path.join(ckpt, f) for f in os.listdir(ckpt)]
    out = {
        "summaries": summaries,
        "verdicts": verdicts,
        "_ckpt_files": len(files),
        "_ckpt_bytes": float(sum(os.path.getsize(f) for f in files)),
    }
    shutil.rmtree(ckpt, ignore_errors=True)
    return out


def uninterrupted(ctx) -> dict:
    """``drift_resume``'s reference: one drift run over the whole stream."""
    from random_cut_forest_by_aws_spark.operators.drift import DriftConfig

    summaries, verdicts = _drift(_drift_input(ctx), DriftConfig(**RESUME_DRIFT))
    return {"summaries": summaries, "verdicts": verdicts}


OPS = {"suite_full": suite_full, "drift_resume": drift_resume}


# ---- output checks -----------------------------------------------------
def oracle(path: str) -> dict:
    """Planted facts of the generated table, computed with pyarrow only."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    t = pq.read_table(path, columns=["doc_id", "tokens", "n_tok", "source"])
    ids = t.filter(pc.is_valid(t["doc_id"])).group_by("doc_id").aggregate(
        [("doc_id", "count")]
    )
    dup_keys = int(pc.sum(pc.greater(ids["doc_id_count"], 1)).as_py() or 0)
    src = t.group_by("source").aggregate([("source", "count")]).to_pylist()
    missing = sorted(
        (r["source"], r["source_count"]) for r in src
        if r["source"] is not None and r["source"] not in DIM_SOURCES
    )
    toks = t["tokens"].combine_chunks()
    n_tok = t["n_tok"].combine_chunks().to_numpy(zero_copy_only=False)
    valid = np.asarray(toks.is_valid())
    lens = np.asarray(pc.list_value_length(toks).fill_null(-1))
    flat = toks.flatten()
    bad_val = np.zeros(len(t), bool)
    bad_flat = np.asarray(pc.or_kleene(pc.less(flat, 0), pc.is_null(flat)).fill_null(True))
    if bad_flat.any():
        parent = np.asarray(pc.list_parent_indices(toks))
        bad_val[parent[bad_flat]] = True
    n_tok_ok = ~np.isnan(n_tok.astype(float))
    bad = ~valid | ~n_tok_ok | (lens != n_tok) | (n_tok <= 0) | bad_val
    return {
        "rows": len(t),
        "dup_keys": dup_keys,
        "missing_sources": missing,
        "token_violations": int(bad.sum()),
        "null_keys": int(t["doc_id"].null_count),
    }


def ground_truth(workload: str, ctx) -> dict:
    """What ``check`` compares a workload's outputs with."""
    truth = oracle(ctx.path)
    if workload == "drift_resume":
        truth["uninterrupted"] = uninterrupted(ctx)
    return truth


def check(workload: str, out: dict, truth: dict) -> list[str]:
    """Names of the planted facts the output gets wrong (empty = pass)."""
    bad: list[str] = []
    if workload == "drift_resume":
        # the groups are sized for per-group costs, not for a drift
        # verdict, so the planted drift is not checked here;
        # bit-identical resume is
        ref = truth["uninterrupted"]
        if out["summaries"] != ref["summaries"] or out["verdicts"] != ref["verdicts"]:
            bad.append("resumed_differs_from_uninterrupted_run")
    elif workload == "suite_full":
        v = {(c, s): (p, n) for c, s, p, n in out["verdicts"]}
        if [src for src, _ in truth["missing_sources"]] != ["forums"] or v.get(
            ("referential", "<table>")
        ) != (False, 1):
            bad.append("referential_fails_on_forums")
        if v.get(("distribution_drift", "code"), (True, 0))[0]:
            bad.append("code_fails_drift")
        if v.get(("uniqueness", "<table>")) != (truth["dup_keys"] == 0, truth["dup_keys"]):
            bad.append("uniqueness_dup_keys")
        tv = truth["token_violations"]
        if v.get(("token_array_equality", "<table>")) != (tv == 0, tv) or tv == 0:
            bad.append("token_array_equality_violations")
    else:  # constraints_scan
        if out["uniqueness"] != truth["dup_keys"]:
            bad.append("uniqueness_dup_keys")
        if [tuple(r) for r in out["referential"]] != truth["missing_sources"]:
            bad.append("referential_forums_rows")
        if out["constraints"] != truth["token_violations"] or truth["token_violations"] == 0:
            bad.append("token_equality_violations")
        if sum(r[1] for r in out["stats"]) != truth["rows"]:
            bad.append("stats_row_count")
        chk = {r[0]: r[1] for r in out["checks"]}
        if chk.get("complete(doc_id)") != (truth["null_keys"] == 0):
            bad.append("checks_complete_doc_id")
    return bad


# ---- per-layer probes (traced runs) ------------------------------------
def forest_probe(seed: int, d: int = 4, n: int = 4096, reps: int = 3) -> dict:
    """Driver-side RCFForest at the drift shapes (30 trees x 256 samples,
    d = token_features width, one 4096-row chunk): update and score cost
    per row, state round-trip time, and compressed state bytes."""
    from random_cut_forest_by_aws_spark.core.forest import RCFForest

    rng = np.random.default_rng(seed)
    res: dict[str, list[float]] = {k: [] for k in (
        "update_us_per_row", "score_us_per_row", "to_state_ms", "from_state_ms", "state_bytes"
    )}
    for r in range(reps):
        f = RCFForest(d, num_trees=SUITE_DRIFT["num_trees"],
                      sample_size=SUITE_DRIFT["sample_size"], time_decay=0.0, seed=seed + r)
        f.update_batch(rng.normal(size=(1024, d)).astype(np.float32))
        X = rng.normal(size=(n, d)).astype(np.float32)
        t = time.perf_counter()
        f.score(X)
        res["score_us_per_row"].append((time.perf_counter() - t) / n * 1e6)
        t = time.perf_counter()
        f.update_batch(X)
        res["update_us_per_row"].append((time.perf_counter() - t) / n * 1e6)
        t = time.perf_counter()
        state = f.to_state()
        res["to_state_ms"].append((time.perf_counter() - t) * 1e3)
        buf = io.BytesIO()
        np.savez_compressed(buf, **state)
        res["state_bytes"].append(float(buf.tell()))
        t = time.perf_counter()
        RCFForest.from_state(state)
        res["from_state_ms"].append((time.perf_counter() - t) * 1e3)
    return {k: float(np.median(v)) for k, v in res.items()}
