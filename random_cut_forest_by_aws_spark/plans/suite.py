"""ValidationSuite — the engine's top-level plan (north_rule end-to-end).

Composes the operators into one validation run over a tokenized-sequence
table and emits three result tables (the engine's analogue of the
reference's ``AnomalyDescriptor`` stream, re-shaped for batch validation):

* ``verdicts``  — one row per (check, scope): passed / violation counts;
* ``violations`` — bounded per-row evidence (duplicate keys, broken refs,
  invariant failures, drift anomalies / drifted windows);
* ``metrics``   — per-scope lineage: rows, tokens, per-check durations.

Plan shape (what Catalyst sees): the stats/uniqueness/invariant checks are
independent aggregations over the scan (column-pruned per check);
referential reuses the stats aggregation (anti-join over #distinct-keys
rows, never the fact table); drift is a single groupBy→applyInArrow.
The independent checks are *materialized concurrently* from driver
threads — per-job scheduling latency overlaps, and the JVM-bound scans
share the cluster with the Python-bound drift stage instead of
serializing behind it. Nothing here collects raw data to the driver —
every output is itself a (small) DataFrame.
"""

from __future__ import annotations

import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.features import token_features
from ..operators.constraints import token_equality_violations
from ..operators.drift import (
    DriftConfig,
    drift_anomalies,
    drift_lineage,
    drift_scores,
    drift_verdicts,
)
from ..operators.stats import column_stats
from ..operators.uniqueness import uniqueness_violations


@dataclass
class SuiteConfig:
    key_cols: tuple[str, ...] = ("doc_id",)
    group_col: str = "source"
    order_col: str = "seq"
    tokens_col: str = "tokens"
    n_tok_col: str = "n_tok"
    max_violation_rows: int = 1000  # evidence cap per check
    drift: DriftConfig = field(default_factory=DriftConfig)
    vocab: int = 50_000
    # Materialize independent checks from concurrent driver threads. On a
    # real multi-executor cluster this overlaps scheduling latency and
    # lets JVM-bound scans share the cluster with the Python-bound drift
    # stage. In local[N] (single machine) every stage contends for the
    # same cores, so sequential is faster — hence default False.
    concurrent: bool = False
    # Declarative table-specific rules (operators/checks.Check): each
    # Check compiles to ONE conditional aggregate over ONE scan of df
    # and contributes one verdict row per constraint (scope = the
    # constraint name). Aggregate-only — no per-row violation evidence.
    checks: tuple = ()
    # Structural contract (operators/schema.validate_schema): expected
    # column -> DDL type. Pure metadata — verified from the table schema
    # before any data is scanned; one verdict row per column under
    # check="schema". Key columns are additionally required to be
    # DECLARED non-nullable.
    expected_schema: dict | None = None
    schema_non_nullable: tuple[str, ...] = ()
    schema_allow_extra: bool = True
    # Histogram-profile workflow (operators/distdrift.py): when
    # profile_cols is set (column -> bin_width, None = categorical) the
    # run emits a persistable |cols|·|bins| histogram of the input as
    # ValidationResult.profile (write it next to the verdicts); when
    # baseline_profile (a STORED profile DataFrame from a previous run)
    # is also given, the run adds check="baseline_drift" verdicts —
    # PSI vs the stored histogram, scanning only the current input.
    profile_cols: dict | None = None
    baseline_profile: DataFrame | None = None
    psi_threshold: float = 0.25


@dataclass
class ValidationResult:
    verdicts: DataFrame
    violations: DataFrame
    metrics: DataFrame
    stats: DataFrame
    #: per-(group, bucket) drift lineage — the audit grain of the resume
    #: checkpoints (north-star "per-partition lineage and metrics")
    lineage: DataFrame = None
    #: persistable histogram profile of THIS run's input (when
    #: SuiteConfig.profile_cols is set) — store it and pass it to the
    #: next run as baseline_profile
    profile: DataFrame = None


VERDICT_SCHEMA = "check string, scope string, passed boolean, violation_count long, detail string"
VIOLATION_SCHEMA = "check string, scope string, key string, detail string"


class ValidationSuite:
    """Run schema/constraint/drift validation over a sequences DataFrame."""

    def __init__(self, spark: SparkSession, cfg: SuiteConfig | None = None):
        self.spark = spark
        self.cfg = cfg or SuiteConfig()

    def run(self, df: DataFrame, ref_dim: DataFrame | None = None) -> ValidationResult:
        cfg = self.cfg
        t0 = time.time()
        timings: dict[str, tuple[float, int]] = {}

        def timed(name: str, fn) -> int:
            t = time.time()
            n = int(fn())
            timings[name] = (time.time() - t, n)
            return n

        # ---- lazy plans --------------------------------------------------
        stats = column_stats(
            df,
            numeric_cols=[cfg.n_tok_col],
            key_cols=list(cfg.key_cols),
            group_by=[cfg.group_col],
        ).cache()
        dup = uniqueness_violations(df, list(cfg.key_cols)).cache()
        inv = token_equality_violations(
            df,
            tokens_col=cfg.tokens_col,
            n_tok_col=cfg.n_tok_col,
            id_cols=(list(cfg.key_cols) + [cfg.group_col, cfg.order_col]),
        ).cache()
        feat = df.withColumn(
            "features", token_features(cfg.tokens_col, cfg.n_tok_col, cfg.vocab)
        ).select(cfg.group_col, cfg.order_col, "features")

        holder: dict[str, DataFrame] = {}

        def run_drift() -> int:
            # localCheckpoint, not cache(): raw's logical plan is the
            # suite's biggest (bucket-count literals + 2B-partition
            # repartition + grouped map) and a cache() registers it with
            # the CacheManager, which re-canonicalizes EVERY registered
            # plan on every subsequent action in the session (round-5
            # gotcha #4) — the verdict/violation consumption paid that
            # tax per query. Checkpointing truncates raw to a leaf; the
            # output is tiny (anomaly + summary rows), so executor
            # storage cost is nil and the materialization stays inside
            # this timed phase.
            raw = drift_scores(
                feat, "features", (cfg.group_col,), cfg.order_col, cfg.drift
            ).localCheckpoint(eager=True)
            dv = drift_verdicts(raw, (cfg.group_col,), cfg.drift).cache()
            holder["raw"], holder["dv"] = raw, dv
            return dv.filter(~F.col("passed")).count()

        custom = [(chk, chk.run(df).cache()) for chk in cfg.checks]

        profile = None
        baseline_drift = None
        if cfg.profile_cols:
            from ..operators.distdrift import (
                histogram_profile,
                snapshot_drift_vs_profile,
            )

            profile = histogram_profile(df, cfg.profile_cols)
            if cfg.baseline_profile is not None:
                baseline_drift = snapshot_drift_vs_profile(
                    cfg.baseline_profile, df, cfg.profile_cols
                ).cache()

        # ---- materialize checks (concurrently on clusters) ---------------
        workers = (5 + len(custom)) if cfg.concurrent else 1
        with ThreadPoolExecutor(max_workers=workers) as ex:
            f_drift = ex.submit(timed, "drift", run_drift)
            f_stats = ex.submit(timed, "column_stats", stats.count)
            f_dup = ex.submit(timed, "uniqueness", dup.count)
            f_inv = ex.submit(timed, "token_invariants", inv.count)
            f_custom = [
                ex.submit(timed, f"check:{chk.name}",
                          (lambda c: lambda: c.filter(~F.col("passed")).count())(cdf))
                for chk, cdf in custom
            ]
            f_bd = None
            if baseline_drift is not None:
                f_bd = ex.submit(
                    timed, "baseline_drift",
                    lambda: baseline_drift.filter(
                        F.col("psi") > cfg.psi_threshold
                    ).count(),
                )
            f_stats.result()
            refv = None
            f_ref = None
            if ref_dim is not None:
                # plan reuse: the FK is the grouping key, so the stats table
                # already holds the distinct FK values + row counts — anti-
                # join those few rows instead of rescanning the fact table.
                refv = (
                    stats.select(
                        F.col(cfg.group_col), F.col("n_rows").alias("fact_rows")
                    )
                    .join(
                        F.broadcast(ref_dim.select(cfg.group_col).distinct()),
                        on=cfg.group_col,
                        how="left_anti",
                    )
                    .cache()
                )
                f_ref = ex.submit(timed, "referential", refv.count)
            n_dup = f_dup.result()
            n_inv = f_inv.result()
            n_drifted = f_drift.result()
            n_ref = f_ref.result() if f_ref is not None else 0
            for f in f_custom:
                f.result()
            if f_bd is not None:
                f_bd.result()
        raw, dv = holder["raw"], holder["dv"]

        # ---- verdict + violation tables -----------------------------------
        verdict_dfs: list[DataFrame] = []
        violation_dfs: list[DataFrame] = []

        verdict_dfs.append(
            stats.select(
                F.lit("n_tok_positive").alias("check"),
                F.col(cfg.group_col).cast("string").alias("scope"),
                (F.col(f"{cfg.n_tok_col}_min") > 0).alias("passed"),
                F.lit(0).cast("long").alias("violation_count"),
                F.concat_ws(
                    "=", F.lit("n_tok_min"), F.col(f"{cfg.n_tok_col}_min").cast("string")
                ).alias("detail"),
            )
        )
        # key-column not-null: based on the key columns' own null counts
        # (n_tok_nulls tests a different column and was a false negative)
        key_nulls = sum(
            (F.col(f"{k}_nulls") for k in cfg.key_cols), F.lit(0)
        ).cast("long")
        verdict_dfs.append(
            stats.select(
                F.lit("doc_id_not_null").alias("check"),
                F.col(cfg.group_col).cast("string").alias("scope"),
                (key_nulls == 0).alias("passed"),
                key_nulls.alias("violation_count"),
                F.lit(f"null count over keys {list(cfg.key_cols)}").alias("detail"),
            )
        )
        verdict_dfs.append(
            stats.select(
                F.lit("n_tok_not_null").alias("check"),
                F.col(cfg.group_col).cast("string").alias("scope"),
                (F.col(f"{cfg.n_tok_col}_nulls") == 0).alias("passed"),
                F.col(f"{cfg.n_tok_col}_nulls").cast("long").alias("violation_count"),
                F.lit("n_tok null count").alias("detail"),
            )
        )

        key = F.concat_ws("|", *[F.col(k).cast("string") for k in cfg.key_cols])
        verdict_dfs.append(
            self.spark.createDataFrame(
                [("uniqueness", "<table>", n_dup == 0, n_dup, f"keys={list(cfg.key_cols)}")],
                VERDICT_SCHEMA,
            )
        )
        violation_dfs.append(
            dup.select(
                F.lit("uniqueness").alias("check"),
                F.lit("<table>").alias("scope"),
                key.alias("key"),
                F.concat_ws("=", F.lit("dup_count"), F.col("dup_count").cast("string")).alias(
                    "detail"
                ),
            ).limit(cfg.max_violation_rows)
        )

        if refv is not None:
            verdict_dfs.append(
                self.spark.createDataFrame(
                    [("referential", "<table>", n_ref == 0, n_ref, f"fk={cfg.group_col}")],
                    VERDICT_SCHEMA,
                )
            )
            violation_dfs.append(
                refv.select(
                    F.lit("referential").alias("check"),
                    F.lit("<table>").alias("scope"),
                    F.col(cfg.group_col).cast("string").alias("key"),
                    F.concat_ws(
                        "=", F.lit("fact_rows"), F.col("fact_rows").cast("string")
                    ).alias("detail"),
                ).limit(cfg.max_violation_rows)
            )

        verdict_dfs.append(
            self.spark.createDataFrame(
                [
                    (
                        "token_array_equality",
                        "<table>",
                        n_inv == 0,
                        n_inv,
                        "n_tok==size(tokens), tokens non-null & in range",
                    )
                ],
                VERDICT_SCHEMA,
            )
        )
        violation_dfs.append(
            inv.select(
                F.lit("token_array_equality").alias("check"),
                F.col(cfg.group_col).cast("string").alias("scope"),
                F.col(cfg.order_col).cast("string").alias("key"),
                F.concat_ws(",", "failed_constraints").alias("detail"),
            ).limit(cfg.max_violation_rows)
        )

        verdict_dfs.append(
            dv.select(
                F.lit("distribution_drift").alias("check"),
                F.col(cfg.group_col).cast("string").alias("scope"),
                F.coalesce(F.col("passed"), F.lit(True)).alias("passed"),
                F.col("n_drifted_windows").cast("long").alias("violation_count"),
                F.concat_ws(
                    " ",
                    F.lit("windows"),
                    F.col("n_windows").cast("string"),
                    F.lit("mean_score"),
                    F.round("mean_score", 4).cast("string"),
                ).alias("detail"),
            )
        )
        violation_dfs.append(
            drift_anomalies(raw)
            .select(
                F.lit("drift_anomaly").alias("check"),
                F.col(cfg.group_col).cast("string").alias("scope"),
                F.col(cfg.order_col).cast("string").alias("key"),
                F.concat_ws(
                    " ",
                    F.lit("score"),
                    F.round("score", 4).cast("string"),
                    F.lit("grade"),
                    F.round("grade", 4).cast("string"),
                ).alias("detail"),
            )
            .limit(cfg.max_violation_rows)
        )

        # ---- structural schema contract (metadata-only, zero scan) -------
        if cfg.expected_schema:
            from ..operators.schema import validate_schema

            sv = validate_schema(
                df, cfg.expected_schema,
                non_nullable=cfg.schema_non_nullable,
                allow_extra=cfg.schema_allow_extra,
            )
            verdict_dfs.append(
                sv.select(
                    F.lit("schema").alias("check"),
                    F.col("column").alias("scope"),
                    F.col("passed"),
                    F.lit(0).cast("long").alias("violation_count"),
                    F.concat_ws(
                        " ",
                        F.col("status"),
                        F.lit("expected"),
                        F.coalesce(F.col("expected_type"), F.lit("-")),
                        F.lit("actual"),
                        F.coalesce(F.col("actual_type"), F.lit("-")),
                    ).alias("detail"),
                )
            )

        # ---- baseline-profile drift (vs a previous run's histogram) ------
        if baseline_drift is not None:
            verdict_dfs.append(
                baseline_drift.select(
                    F.lit("baseline_drift").alias("check"),
                    F.col("column").alias("scope"),
                    (F.col("psi") <= F.lit(cfg.psi_threshold)).alias("passed"),
                    F.lit(0).cast("long").alias("violation_count"),
                    F.concat_ws(
                        " ",
                        F.lit("psi"), F.col("psi").cast("string"),
                        F.lit("js"), F.col("js_div").cast("string"),
                        F.lit("ks"), F.col("ks").cast("string"),
                        F.lit("n_base"), F.col("n_base").cast("string"),
                        F.lit("n_curr"), F.col("n_curr").cast("string"),
                    ).alias("detail"),
                )
            )

        # ---- declarative per-table rules (operators/checks.Check) --------
        for chk, cdf in custom:
            verdict_dfs.append(
                cdf.select(
                    F.concat(F.lit("check:"), F.col("check")).alias("check"),
                    F.col("constraint").alias("scope"),
                    F.col("passed"),
                    F.greatest(F.col("n_violations"), F.lit(0))
                    .cast("long")
                    .alias("violation_count"),
                    F.concat_ws(
                        " ",
                        F.lit("metric"),
                        F.col("metric").cast("string"),
                        F.col("op"),
                        F.col("threshold").cast("string"),
                    ).alias("detail"),
                )
            )

        verdicts = verdict_dfs[0]
        for v in verdict_dfs[1:]:
            verdicts = verdicts.unionByName(v)
        violations = violation_dfs[0]
        for v in violation_dfs[1:]:
            violations = violations.unionByName(v)

        # ---- lineage / metrics table --------------------------------------
        wall = time.time() - t0
        metrics_rows = [
            (check, float(dur), int(n), float(wall))
            for check, (dur, n) in sorted(timings.items())
        ]
        metrics = self.spark.createDataFrame(
            metrics_rows, "check string, duration_sec double, output_rows long, wall_sec double"
        )
        _ = (n_dup, n_inv, n_drifted)  # counted above; verdicts carry them
        lineage = drift_lineage(raw, (cfg.group_col,), cfg.drift)
        return ValidationResult(verdicts, violations, metrics, stats, lineage,
                                profile)
