"""Two-parallelism scaling benchmark — the sandbox proxy for N vs 4N
executor clusters (BASELINE.json north_rule: scaling efficiency ≥ 0.8) —
with its per-stage decomposition from the same runs.

Runs the IDENTICAL featurize→screen job on the IDENTICAL transcripts input
at local[8] and local[32] (one fresh JVM per run via subprocess), reports
turns/sec at both and efficiency = throughput(4N) / (4 × throughput(N)).
Each worker then clears the cache and times the two dominant stages on
the same JVM and input, so a gap in the composite can be localized:

- ``featurize``: the windowed turn featurization (one conv_id window
  shuffle, text dropped map-side) materialized to the noop sink;
- ``train``: ONE full-tree-budget round of the partitioned importance
  backend over a cached frame in the ensemble layout (map-only).

Methodology notes (they matter in this sandbox):
- the host shows intermittent CPU steal from co-tenants, so reps are
  INTERLEAVED across parallelism levels (A/B/A/B…) and both median and min
  are reported — min is the cleanest capability estimate when the only
  noise source is additive interference;
- the screening rounds use the engine's ``partitioned`` importance backend
  (operators/importance_dist.py): map-only per-partition tree training
  with additive split counts. The MLlib backend is Amdahl-capped ~0.6
  efficiency by driver-side split selection; the partitioned backend is
  the designed scale-out path and ~10× faster per round on this workload.

Usage:
    python tools/bench_scaling.py [--convs 300000] [--reps 3]
        [--levels 8 32] [--weak] [--n-trees 1000] [--write-md] [--keep-data]
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
TMP = os.path.join(REPO, ".bench_tmp")

WORKER = r"""
import json, sys, time
sys.path.insert(0, {repo!r})
from featurescreening_jl_spark.plans.session import get_spark
from featurescreening_jl_spark import screen
from featurescreening_jl_spark.operators.importance_dist import (
    DEFAULT_ENSEMBLE_PARTITIONS,
)
from featurescreening_jl_spark.operators.window_features import (
    turn_feature_frame,
)

parallelism = {parallelism}
spark = get_spark("bench-scaling", parallelism=parallelism,
                  shuffle_partitions=parallelism)
spark.sparkContext.setLogLevel("ERROR")

transcripts = spark.read.parquet({data!r})
n_turns = transcripts.count()

def run_once():
    # turn_feature_frame keeps the raw text column (~10× the feature row
    # width) out of the window shuffle — the same change a 100 TB run needs
    result = screen(
        turn_feature_frame(transcripts), reduced_size=4, step_size=5,
        # n_trees = the reference's production default
        # (/root/reference/src/FeatureScreening.jl:54-61): the training
        # stage then measures compute, not task-latency floors
        config={{"n_trees": {n_trees}, "max_depth": 8, "min_samples_leaf": 10,
                 "min_purity_increase": 0.0}},
        rng=42, show_progress=False,
        importance_backend="partitioned",
        backend_options={{"num_partitions": DEFAULT_ENSEMBLE_PARTITIONS}},
    )
    result.df.write.format("noop").mode("overwrite").save()

run_once()  # warm-up: JIT, codegen, page cache
t0 = time.perf_counter()
run_once()
dt = time.perf_counter() - t0
spark.catalog.clearCache()

# ---- stage probes, after the end-to-end screen on the same JVM ----
from featurescreening_jl_spark import FeatureFrame
from featurescreening_jl_spark.operators.importance_dist import (
    ensemble_layout, feature_importance_partitioned,
)

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
                               "n_turns": n_turns, "time": dt,
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


def efficiency(times: dict[int, list[float]], n_turns: dict[int, int],
               levels: list[int]) -> tuple[float, float]:
    """(median, best) efficiency of ``levels[1]`` over ``levels[0]``:
    throughput(hi) / (hi/lo × throughput(lo)), throughput = turns / sec
    from each level's median (resp. min) time. Under ``--weak`` the low
    level ran on a hi/lo×-smaller input, and the same ratio is the
    per-core throughput ratio."""
    lo, hi = levels

    def eff(pick) -> float:
        thr = {p: n_turns[p] / pick(times[p]) for p in levels}
        return thr[hi] / (hi / lo * thr[lo])

    return eff(statistics.median), eff(min)


def summarize(times: dict[int, list[float]], n_turns: dict[int, int],
              levels: list[int]) -> dict:
    med = {p: statistics.median(times[p]) for p in levels}
    best = {p: min(times[p]) for p in levels}
    eff_med, eff_best = efficiency(times, n_turns, levels)
    return {
        "median_sec": {str(p): round(med[p], 2) for p in levels},
        "min_sec": {str(p): round(best[p], 2) for p in levels},
        "turns_per_sec_median": {
            str(p): round(n_turns[p] / med[p], 1) for p in levels
        },
        "turns_per_sec_best": {
            str(p): round(n_turns[p] / best[p], 1) for p in levels
        },
        "efficiency_median": round(eff_med, 3),
        "efficiency_best": round(eff_best, 3),
        "all_times": {str(p): [round(t, 2) for t in times[p]] for p in levels},
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--convs", type=int, default=300000)
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--n-trees", type=int, default=1000,
                    help="total tree budget per round (reference default "
                         "1000, /root/reference/src/FeatureScreening.jl:55)")
    ap.add_argument("--levels", type=int, nargs=2, default=[8, 32])
    ap.add_argument("--weak", action="store_true",
                    help="weak scaling: the low level runs on a "
                         "(hi/lo)×-smaller input — 4× the data on 4× the "
                         "cores, the claim a data pipeline makes on a real "
                         "cluster; efficiency = per-core throughput ratio")
    ap.add_argument("--write-md", action="store_true")
    ap.add_argument("--keep-data", action="store_true")
    args = ap.parse_args()

    n_lo, n_hi = args.levels
    ratio = n_hi / n_lo
    data = os.path.join(TMP, "transcripts_scaling")
    os.makedirs(TMP, exist_ok=True)
    if not os.path.isdir(data):
        print(f"generating {args.convs} conversations …", flush=True)
        run_py(GEN.format(repo=REPO, convs=args.convs, data=data))
    datasets = {p: data for p in args.levels}
    if args.weak:
        convs_small = int(args.convs / ratio)
        small = os.path.join(TMP, f"transcripts_scaling_{convs_small}")
        if not os.path.isdir(small):
            print(f"generating {convs_small} conversations (weak-scaling "
                  f"small side) …", flush=True)
            run_py(GEN.format(repo=REPO, convs=convs_small, data=small))
        datasets[n_lo] = small

    times: dict[str, dict[int, list[float]]] = {
        m: {p: [] for p in args.levels} for m in ["time", *STAGES]
    }
    n_turns: dict[int, int] = {}
    # interleave levels to average out time-varying host interference
    for rep in range(args.reps):
        for p in args.levels:
            print(f"rep {rep + 1}/{args.reps} at local[{p}] …", flush=True)
            out = run_py(
                WORKER.format(
                    repo=REPO, parallelism=p, data=datasets[p],
                    n_trees=args.n_trees,
                )
            )
            line = [ln for ln in out.splitlines() if ln.startswith("RESULT ")][0]
            res = json.loads(line[len("RESULT "):])
            n_turns[p] = res["n_turns"]
            for m in times:
                times[m][p].append(res[m])

    e2e = summarize(times["time"], n_turns, args.levels)
    summary = {
        "mode": "weak" if args.weak else "strong",
        "n_turns": {str(p): n_turns[p] for p in args.levels},
        **{k: e2e[k] for k in ("median_sec", "min_sec",
                               "turns_per_sec_median", "turns_per_sec_best")},
        "scaling_efficiency_median": e2e["efficiency_median"],
        "scaling_efficiency_best": e2e["efficiency_best"],
        "levels": args.levels,
        "reps": args.reps,
        "all_times": e2e["all_times"],
        "stages": {
            s: {k: v for k, v in summarize(times[s], n_turns,
                                           args.levels).items()
                if k != "turns_per_sec_best"}
            for s in STAGES
        },
    }
    print(json.dumps(summary))

    if args.write_md:
        os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
        path = os.path.join(REPO, "BENCH", "BASELINE.md")
        with open(path, "a") as fh:
            fh.write(
                f"\n## {summary['mode'].capitalize()}-scaling run "
                f"(featurize→screen, partitioned backend, "
                f"n_trees={args.n_trees}, {args.reps} interleaved reps)\n\n"
                f"| parallelism | input turns | median sec | min sec "
                f"| turns/sec (median) | turns/sec (best) |\n"
                f"|---|---|---|---|---|---|\n"
            )
            for p in map(str, args.levels):
                fh.write(
                    f"| local[{p}] | {summary['n_turns'][p]} "
                    f"| {e2e['median_sec'][p]:.2f} | {e2e['min_sec'][p]:.2f} "
                    f"| {e2e['turns_per_sec_median'][p]:.1f} "
                    f"| {e2e['turns_per_sec_best'][p]:.1f} |\n"
                )
            eff_def = (
                f"per-core throughput({n_hi}, {ratio:.0f}×data) / "
                f"per-core throughput({n_lo}, data)"
                if args.weak
                else f"throughput({n_hi}) / ({int(ratio)} × throughput({n_lo}))"
            )
            fh.write(
                f"\nscaling efficiency {eff_def}: "
                f"median **{e2e['efficiency_median']:.3f}**, "
                f"best-rep **{e2e['efficiency_best']:.3f}**\n"
                f"\nStages, timed in the same workers after the end-to-end "
                f"screen:\n\n"
                f"| stage | local[{n_lo}] reps (s) | local[{n_hi}] reps (s) "
                f"| eff (median) | eff (best) |\n|---|---|---|---|---|\n"
            )
            for s in STAGES:
                st = summary["stages"][s]
                fh.write(
                    f"| {s} | "
                    f"{', '.join(map(str, st['all_times'][str(n_lo)]))} | "
                    f"{', '.join(map(str, st['all_times'][str(n_hi)]))} | "
                    f"{st['efficiency_median']} | {st['efficiency_best']} |\n"
                )
            fh.write(
                "\n(interleaved reps; the host shows intermittent CPU steal, "
                "so the min/best estimate is the cleaner capability number — "
                "interference is strictly additive.)\n"
            )
    if not args.keep_data:
        shutil.rmtree(TMP, ignore_errors=True)


if __name__ == "__main__":
    main()
