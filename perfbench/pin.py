#!/usr/bin/env python3
"""Pin the output digests that run.py checks every operation against.

    python3 perfbench/pin.py --workload suite_full --seeds 0-31

Runs the workload's operation once per seed on one Spark session, sized
as run.py sizes it, and records the digest in expected.json under the
workload, the row count and the seed. A seed is pinned only when its
output passes every oracle check. Run it only on a commit whose outputs
are known to be correct: a pin is what later commits must reproduce.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from perfbench import workloads  # noqa: E402
from perfbench.run import WORK, Ctx, host, prepare_env, spark_conf, stop_spark  # noqa: E402


def seed_list(text: str) -> list[int]:
    out: list[int] = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=workloads.WORKLOADS)
    ap.add_argument("--seeds", required=True, help="e.g. 0-31 or 1,2,5")
    args = ap.parse_args()

    hw = host()
    run_dir = WORK / f"pin-{args.workload}-{os.getpid()}"
    prepare_env(run_dir)
    from random_cut_forest_by_aws_spark import get_spark
    from random_cut_forest_by_aws_spark.sources import sources_dim

    spark = get_spark(app_name="perfbench-pin", master=f"local[{hw['cpus']}]",
                      shuffle_partitions=max(hw["cpus"], 8),
                      extra_conf=spark_conf(run_dir, hw["ram_gb"]))
    path_json = Path(__file__).with_name("expected.json")
    pins = json.loads(path_json.read_text())
    entry = pins.get(args.workload, {})
    if entry.get("rows") != workloads.ROWS:
        entry = {"rows": workloads.ROWS, "seeds": {}}
    try:
        for seed in seed_list(args.seeds):
            path = workloads.generate(spark, seed, str(run_dir / f"seed{seed}"))
            ctx = Ctx(spark, spark.read.parquet(path), sources_dim(spark), path)
            out = workloads.OPS[args.workload](ctx)
            bad = workloads.check(args.workload, out, workloads.ground_truth(args.workload, ctx))
            spark.catalog.clearCache()
            if bad:
                print(f"seed {seed}: not pinned, fails {bad}", file=sys.stderr)
                continue
            entry["seeds"][str(seed)] = workloads.digest(out)
            print(f"seed {seed}: {entry['seeds'][str(seed)]}", file=sys.stderr)
    finally:
        stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
    entry["seeds"] = dict(sorted(entry["seeds"].items(), key=lambda kv: int(kv[0])))
    pins[args.workload] = entry
    path_json.write_text(json.dumps(dict(sorted(pins.items())), indent=1) + "\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
