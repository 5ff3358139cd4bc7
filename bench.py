"""Benchmark harness: every registered driver query (``queries()`` in
``__spark_entry__.py``) at sf0.1.

Prints ONE JSON line:
``{"metric": ..., "value": <total sec>, "unit": "sec",
   "queries": {name: sec, ...}, "sf": ..., ...extras}``

Env knobs: ``SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1),
``SPARK_GRAFT_CPUS`` (default 32), ``SPARK_GRAFT_BENCH_REPS`` (default 3:
the full query list runs REPS interleaved passes and each query reports
its MIN — see the burst-weather note in main() — and its rep spread,
max/min over its reps, under ``rep_spreads``), and
``SPARK_GRAFT_BENCH_BUDGET`` (default 600 s: extra passes start only
while under budget, so a burst-slowed run sheds reps instead of
overrunning an external timeout; pass 1 always completes). Each query is
fully materialized via the noop sink (count() alone would let Catalyst
prune the work away).

The two-parallelism scaling run (N vs 4N cores — the sandbox proxy for N vs
4N executors) lives in tools/bench_scaling.py; its results go to
BENCH/BASELINE.md.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def materialize(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _calibration_work(_):
    s = 0
    for i in range(4_000_000):
        s += i * i
    return s


def parallel_interference() -> float:
    """Host-condition calibration: wall time of a fixed CPU-bound kernel
    run on CPUS processes at once, divided by its single-process time.
    1.0 = a quiet box (32 cores genuinely available); ratios well above
    ~1.1 mean co-tenant CPU steal is inflating every per-query number in
    this run (measured swings up to 2x on this host). Recorded so a
    bench JSON carries its own weather report."""
    import multiprocessing as mp

    t0 = time.perf_counter()
    _calibration_work(0)
    single = time.perf_counter() - t0
    with mp.Pool(CPUS) as pool:
        t0 = time.perf_counter()
        pool.map(_calibration_work, range(CPUS))
        batch = time.perf_counter() - t0
    return round(batch / single, 3)


def main() -> None:
    import __spark_entry__ as entrymod
    from featurescreening_jl_spark.plans.session import get_spark

    spark = get_spark("bench", parallelism=CPUS, shuffle_partitions=CPUS)
    spark.sparkContext.setLogLevel("ERROR")
    qs = entrymod.queries()

    # warm the JVM/codegen once with a cheap query, and the Python-worker
    # pool + Arrow serializer path with a trivial mapInPandas (the first
    # Arrow query otherwise pays ~CPUS pandas-import worker spawns)
    materialize(qs["hash_count_agg"](spark, SF_DIR))
    materialize(
        spark.range(CPUS * 4, numPartitions=CPUS).mapInPandas(
            lambda it: it, "id long"
        )
    )
    # warm the OS page cache for every input table once, so the cold
    # first-touch disk read is not attributed to whichever query happens
    # to scan that table first (measured: the first documents.parquet
    # scan swung 1 s → 18 s run-to-run purely on page-cache state). The
    # bench measures query compute; per-table cold-read cost is a
    # property of the storage tier, not of any one operator.
    for t in ("events", "documents", "embeddings", "lineitem", "orders"):
        materialize(spark.read.parquet(f"{SF_DIR}/{t}.parquet"))

    # optional argv subset for iteration: `python bench.py q1 q2 ...`
    names = [a for a in sys.argv[1:] if not a.startswith("-")] or list(qs)
    # one untimed run of the first-listed query: otherwise its rep 1 runs
    # cold (minhash_pairs read 7.73 s first in the list, 1.20-1.82 s last)
    # and its rep spread measures warm-up, not noise
    materialize(qs[names[0]](spark, SF_DIR))
    spark.catalog.clearCache()
    # INTERLEAVED repetitions, per-query MIN. This sandbox host shows
    # minutes-long co-tenant bursts (steal + lock-holder-preemption system
    # time) that inflate whichever queries happen to run inside the burst
    # 5-50x — two back-to-back full runs each had a different arbitrary
    # slow set. Back-to-back per-query reps would NOT fix that (a burst
    # outlives both reps); running the whole list REPS times and taking
    # each query's min decorrelates the reps by the length of a full pass
    # (~several minutes), so a query's best rep almost always lands
    # outside any single burst. The min is the honest estimator here:
    # variance is exogenous (host weather), strictly additive, and the
    # quantity being measured — the plan's compute cost — is the floor.
    reps = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3"))
    # wall-clock budget for EXTRA passes: pass 1 always completes (there
    # must be a number for every query), later passes start only while
    # elapsed time is under budget — so a burst-slowed run degrades to
    # fewer reps instead of overrunning whatever timeout wraps the bench
    budget_s = float(os.environ.get("SPARK_GRAFT_BENCH_BUDGET", "600"))
    bench_t0 = time.perf_counter()
    per_rep: dict[str, list[float]] = {n: [] for n in names}
    reps_run = 0
    for rep in range(reps):
        if rep > 0 and time.perf_counter() - bench_t0 > budget_s:
            break
        for name in names:
            t0 = time.perf_counter()
            materialize(qs[name](spark, SF_DIR))
            per_rep[name].append(time.perf_counter() - t0)
            # measurement isolation: a query that legitimately leaves
            # cached tables behind for its own consumers (the flagship
            # keeps its loop cache for the materialization above) must not
            # make every LATER query compete with that resident cache for
            # executor memory
            spark.catalog.clearCache()
        reps_run += 1
    timings = {n: round(min(ts), 3) for n, ts in per_rep.items()}
    # weather report: each query's max rep / min rep (1.0 with one rep),
    # and their median. ~1.0 on a quiet box; well above ~1.5 means bursts
    # hit one of the passes and the min-of-reps correction was
    # load-bearing for this JSON. A change smaller than a query's own
    # spread is not a measured change of that query.
    rep_spreads = {
        n: round(max(ts) / max(min(ts), 1e-9), 3) for n, ts in per_rep.items()
    }
    spreads = sorted(rep_spreads.values())
    rep_spread = spreads[len(spreads) // 2] if spreads else 1.0

    total = round(sum(timings.values()), 3)
    out = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": SF_DIR,
        "cpus": CPUS,
        "bench_reps": reps_run,
        "rep_spread_median": rep_spread,
        "rep_spreads": rep_spreads,
        # 1.0 = quiet box; >1.1 = co-tenant steal inflated this run
        "parallel_interference": parallel_interference(),
    }
    if "screen_pipeline" in timings:
        # screening-round throughput: events processed per second through
        # the full featurize→screen pipeline (the BASELINE.md target metric)
        n_events = spark.read.parquet(f"{SF_DIR}/events.parquet").count()
        out["screen_turns_per_sec"] = round(
            n_events / timings["screen_pipeline"], 1
        )
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
