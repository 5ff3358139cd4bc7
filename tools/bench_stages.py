"""Per-stage scaling decomposition — which pipeline stage limits scale-up.

Splits the featurize→screen pipeline into its two dominant stages and
measures each at two parallelism levels (fresh JVM per run, interleaved
reps, weak or strong input sizing — same methodology as
tools/bench_scaling.py):

- ``featurize``: the windowed turn featurization (one conv_id window
  shuffle, text dropped map-side) materialized to the noop sink;
- ``train``: ONE full-tree-budget round of the partitioned importance
  backend over a cached frame in the ensemble layout — the map-only stage
  that dominates screening at the reference's 1000-tree budget.

Per-stage scaling efficiency localizes any end-to-end gap: a stage that
scales at 0.9 while the composite sits lower points at the other stage
(or at a shared resource — on this single box, the memory bus).

Usage:
    python tools/bench_stages.py [--convs 300000] [--levels 8 32] [--weak]
        [--reps 3] [--n-trees 1000] [--write-md]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TMP = os.path.join(REPO, ".bench_tmp_stages")

WORKER = r"""
import json, sys, time
sys.path.insert(0, {repo!r})
from featurescreening_jl_spark.plans.session import get_spark
from featurescreening_jl_spark import FeatureFrame
from featurescreening_jl_spark.operators.importance_dist import (
    DEFAULT_ENSEMBLE_PARTITIONS, ensemble_layout,
    feature_importance_partitioned,
)
from featurescreening_jl_spark.operators.window_features import (
    turn_feature_frame,
)

parallelism = {parallelism}
spark = get_spark("bench-stages", parallelism=parallelism,
                  shuffle_partitions=parallelism)
spark.sparkContext.setLogLevel("ERROR")

transcripts = spark.read.parquet({data!r})
n_turns = transcripts.count()

def run_featurize():
    turn_feature_frame(transcripts).df.write.format("noop").mode(
        "overwrite").save()

# ---- stage 1: featurize (warm-up rep, then timed rep) ----
run_featurize()
t0 = time.perf_counter()
run_featurize()
t_featurize = time.perf_counter() - t0

# ---- stage 2: one full-budget training round over the cached frame in
# the ensemble layout (exactly the screening loop's shape) ----
turns = turn_feature_frame(transcripts)
base = ensemble_layout(
    turns.df, "sample_id", DEFAULT_ENSEMBLE_PARTITIONS
).cache()
base.count()  # cache fill (excluded: amortized across all rounds)
ff = FeatureFrame(base, turns.feature_names)
cfg = {{"n_trees": {n_trees}, "max_depth": 8, "min_samples_leaf": 10,
        "min_purity_increase": 0.0}}

def run_train():
    feature_importance_partitioned(
        ff, config=cfg, rng=42, num_partitions=DEFAULT_ENSEMBLE_PARTITIONS,
    )

run_train()
t0 = time.perf_counter()
run_train()
t_train = time.perf_counter() - t0

spark.stop()
print("RESULT " + json.dumps({{"parallelism": parallelism,
                               "n_turns": n_turns,
                               "featurize": t_featurize,
                               "train": t_train}}))
"""

GEN = r"""
import sys
sys.path.insert(0, {repo!r})
from featurescreening_jl_spark.plans.session import get_spark
from featurescreening_jl_spark.sources.transcripts import synthetic_transcripts
spark = get_spark("bench-gen", parallelism=32)
spark.sparkContext.setLogLevel("ERROR")
df = synthetic_transcripts(spark, {convs}, seed=42)
df.repartition(128).write.mode("overwrite").parquet({data!r})
print("rows", spark.read.parquet({data!r}).count())
spark.stop()
"""

STAGES = ["featurize", "train"]


def run_py(code: str) -> str:
    proc = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True, cwd=REPO
    )
    if proc.returncode != 0:
        sys.stderr.write(proc.stderr[-4000:])
        raise RuntimeError("worker failed")
    return proc.stdout


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--convs", type=int, default=300000)
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--n-trees", type=int, default=1000)
    ap.add_argument("--levels", type=int, nargs=2, default=[8, 32])
    ap.add_argument("--weak", action="store_true")
    ap.add_argument("--write-md", action="store_true")
    ap.add_argument("--keep-data", action="store_true")
    args = ap.parse_args()

    n_lo, n_hi = args.levels
    ratio = n_hi / n_lo
    data = os.path.join(TMP, "transcripts_stages")
    os.makedirs(TMP, exist_ok=True)
    if not os.path.isdir(data):
        print(f"generating {args.convs} conversations …", flush=True)
        run_py(GEN.format(repo=REPO, convs=args.convs, data=data))
    datasets = {p: data for p in args.levels}
    if args.weak:
        convs_small = int(args.convs / ratio)
        small = os.path.join(TMP, f"transcripts_stages_{convs_small}")
        if not os.path.isdir(small):
            print(f"generating {convs_small} conversations (weak small side) …",
                  flush=True)
            run_py(GEN.format(repo=REPO, convs=convs_small, data=small))
        datasets[n_lo] = small

    times: dict[int, dict[str, list[float]]] = {
        p: {s: [] for s in STAGES} for p in args.levels
    }
    n_turns: dict[int, int] = {}
    for rep in range(args.reps):
        for p in args.levels:
            print(f"rep {rep + 1}/{args.reps} at local[{p}] …", flush=True)
            out = run_py(WORKER.format(
                repo=REPO, parallelism=p, data=datasets[p],
                n_trees=args.n_trees,
            ))
            line = [ln for ln in out.splitlines() if ln.startswith("RESULT ")][0]
            res = json.loads(line[len("RESULT "):])
            n_turns[p] = res["n_turns"]
            for s in STAGES:
                times[p][s].append(res[s])

    summary: dict = {
        "mode": "weak" if args.weak else "strong",
        "levels": args.levels,
        "reps": args.reps,
        "n_trees": args.n_trees,
        "n_turns": {str(p): n_turns[p] for p in args.levels},
        "stages": {},
    }
    for s in STAGES:
        med = {p: statistics.median(times[p][s]) for p in args.levels}
        best = {p: min(times[p][s]) for p in args.levels}
        thr_med = {p: n_turns[p] / med[p] for p in args.levels}
        thr_best = {p: n_turns[p] / best[p] for p in args.levels}
        if args.weak:
            eff_med = (thr_med[n_hi] / n_hi) / (thr_med[n_lo] / n_lo)
            eff_best = (thr_best[n_hi] / n_hi) / (thr_best[n_lo] / n_lo)
        else:
            eff_med = thr_med[n_hi] / (ratio * thr_med[n_lo])
            eff_best = thr_best[n_hi] / (ratio * thr_best[n_lo])
        summary["stages"][s] = {
            "median_sec": {str(p): round(med[p], 2) for p in args.levels},
            "min_sec": {str(p): round(best[p], 2) for p in args.levels},
            "turns_per_sec_median": {
                str(p): round(thr_med[p], 1) for p in args.levels
            },
            "efficiency_median": round(eff_med, 3),
            "efficiency_best": round(eff_best, 3),
            "all_times": {
                str(p): [round(t, 2) for t in times[p][s]]
                for p in args.levels
            },
        }
    print(json.dumps(summary))

    if args.write_md:
        os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
        path = os.path.join(REPO, "BENCH", "BASELINE.md")
        mode = "weak" if args.weak else "strong"
        with open(path, "a") as fh:
            fh.write(
                f"\n## {mode.capitalize()}-scaling STAGE decomposition "
                f"(local[{n_lo}] vs local[{n_hi}], n_trees={args.n_trees}, "
                f"{args.reps} interleaved reps"
                + (f", {ratio:.0f}× data at local[{n_hi}]" if args.weak else "")
                + ")\n\n"
                f"| stage | local[{n_lo}] reps (s) | local[{n_hi}] reps (s) "
                f"| eff (median) | eff (best) |\n|---|---|---|---|---|\n"
            )
            for s in STAGES:
                st = summary["stages"][s]
                fh.write(
                    f"| {s} | "
                    f"{', '.join(str(t) for t in st['all_times'][str(n_lo)])} | "
                    f"{', '.join(str(t) for t in st['all_times'][str(n_hi)])} | "
                    f"{st['efficiency_median']} | {st['efficiency_best']} |\n"
                )
            fh.write(
                f"\nInput turns: local[{n_lo}]={n_turns[n_lo]}, "
                f"local[{n_hi}]={n_turns[n_hi]}. Efficiency = per-core "
                f"throughput ratio (weak) / throughput ratio ÷ core ratio "
                f"(strong); interleaved reps to average out host CPU steal.\n"
            )
    if not args.keep_data:
        shutil.rmtree(TMP, ignore_errors=True)


if __name__ == "__main__":
    main()
