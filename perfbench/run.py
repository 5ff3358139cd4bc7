"""End-to-end and per-layer benchmark of the featurize → screen engine.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload screen_pipeline --seed 1 \
        --seconds 10 --trace 0

One run starts a ``local[nproc]`` session and builds the workload's input
from the seed several times (``setup_s`` is the median). It then runs the
job once in the fresh session, as a submitted batch job runs (``job_s``),
and again and again, one job at a time, for ``--seconds`` and at least
twice (their median is the per-layer ``run.warm_wall_s``). Every call's
output is checked; a call that raises or fails its check counts in
``failed``. ``--trace 1`` adds one traced call with the layer wrappers and
the layer probes, and reports the per-layer metrics instead of the
end-to-end ones. The last line of standard output is the result JSON; the
line before it carries the samples and the host-interference ratio.
Nothing is read or written outside the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPS = 3
MIN_SAMPLES = 2


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def require_engine() -> None:
    """The engine must come from this checkout, not from anywhere else."""
    pkg = os.path.join(ROOT, "featurescreening_jl_spark", "__init__.py")
    job = os.path.join(ROOT, "jobs", "corpus_prep_job.py")
    if not (os.path.isfile(pkg) and os.path.isfile(job)):
        sys.exit(f"perfbench: no engine sources under {ROOT}; run from the "
                 f"root of a full checkout")


def configure_environment(work: str) -> None:
    """Keep every file Spark, the JVM and the Python workers write inside
    the checkout, and put the engine on the Python workers' path
    (``mapInPandas`` otherwise fails with ``ModuleNotFoundError``)."""
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE, *filter(None, [os.environ.get("PYTHONPATH")])]
    )
    os.environ.setdefault("SPARK_DRIVER_MEM", "2g")
    # every JVM (the spark-submit launcher too): temp files in the
    # checkout, and no hsperfdata file in the system /tmp
    # (and a fixed set of JIT compiler threads, so their CPU time can be
    # read off live threads and kept out of cpu_s)
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData "
        "-XX:-UseDynamicNumberOfCompilerThreads"
    )
    sys.path[:0] = [ROOT, HERE]


def start_spark(work: str, cores: int):
    from featurescreening_jl_spark.plans.session import get_spark

    spark = get_spark(
        "perfbench", parallelism=cores, shuffle_partitions=cores,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(work, "local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def descendants(pid: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        for k in kids.get(todo.pop(), []):
            out.append(k)
            todo.append(k)
    return out


def stop_all(spark) -> None:
    """Stop the session, end the JVM and wait until every process this run
    started (the JVM, its Python workers) has exited; kill what is left
    after a grace period."""
    from pyspark import SparkContext

    started = descendants(os.getpid())
    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = gateway.proc
        if proc.stdin is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.monotonic() + 20
    alive = started
    while alive and time.monotonic() < deadline:
        alive = [p for p in alive if os.path.exists(f"/proc/{p}")]
        time.sleep(0.05)
    for p in alive:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


def _ticks(stat_path: str) -> tuple[int, int]:
    """(own user+system, reaped children's user+system) clock ticks."""
    with open(stat_path) as fh:
        fields = fh.read().rsplit(")", 1)[1].split()
    return int(fields[11]) + int(fields[12]), int(fields[13]) + int(fields[14])


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and every process under it
    (the JVM and the Python workers), reaped children included."""
    total = 0
    for pid in [os.getpid(), *descendants(os.getpid())]:
        try:
            total += sum(_ticks(f"/proc/{pid}/stat"))
        except OSError:
            continue  # exited meanwhile; its parent reaps its time
    return total / os.sysconf("SC_CLK_TCK")


def jit_cpu_s(jvm_pid: int) -> float:
    """CPU seconds the JVM's JIT compiler threads have used so far."""
    total = 0
    task_dir = f"/proc/{jvm_pid}/task"
    for tid in os.listdir(task_dir):
        try:
            with open(f"{task_dir}/{tid}/comm") as fh:
                if "CompilerThre" not in fh.read():
                    continue
            total += _ticks(f"{task_dir}/{tid}/stat")[0]
        except OSError:
            continue
    return total / os.sysconf("SC_CLK_TCK")


def spark_counts(spark, group: str) -> tuple[int, int, int]:
    tracker = spark.sparkContext.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    stages = tasks = 0
    for j in jobs:
        info = tracker.getJobInfo(j)
        for s in info.stageIds if info else []:
            stage = tracker.getStageInfo(s)
            if stage is not None:
                stages += 1
                tasks += stage.numTasks
    return len(jobs), stages, tasks


class Runner:
    """Runs calls of one workload and keeps the tally."""

    def __init__(self, spark, wl) -> None:
        from pyspark import SparkContext

        self.spark, self.wl = spark, wl
        self.jvm_pid = SparkContext._gateway.proc.pid
        self.attempted = self.failed = 0
        self.problems: list[str] = []
        self.counts: list[tuple[int, int, int]] = []

    def call(self, label: str, rec=None, check=None):
        """One timed call and its output check. Returns (wall seconds, work
        CPU seconds, JIT CPU seconds, result), all None when the call
        raised. Work CPU is the process tree's CPU minus the JIT's."""
        self.attempted += 1
        group = f"{label}-{self.attempted}"
        self.spark.sparkContext.setJobGroup(group, label)
        try:
            cpu0, jit0 = tree_cpu_s(), jit_cpu_s(self.jvm_pid)
            t0 = time.perf_counter()
            result = self.wl.run(rec)
            dt = time.perf_counter() - t0
            jit = jit_cpu_s(self.jvm_pid) - jit0
            cpu = tree_cpu_s() - cpu0 - jit
        except Exception:
            self.failed += 1
            self.problems.append(f"{label}: {traceback.format_exc()}")
            return None, None, None, None
        self.counts.append(spark_counts(self.spark, group))
        try:
            bad = (check or self.wl.check)(result)
        except Exception:
            bad = [traceback.format_exc()]
        if bad:
            self.failed += 1
            self.problems.extend(f"{label}: {p}" for p in bad)
        return dt, cpu, jit, result


def traced_call(spark, wl, runner, untraced_wall: float) -> dict[str, float]:
    """One call with the layer wrappers in place, then the workload's
    probes and the kernel probe. Spans are written to ``.perfbench_out``."""
    import workloads
    from spans import Recorder, patched

    rec = Recorder()
    rec.run_id = "traced"
    with patched(wl.trace_targets(rec)):
        with rec.span("call"):
            dt, _, _, result = runner.call("traced", rec=rec)
    if result is None:
        raise RuntimeError("the traced call failed")
    layers = wl.layer_metrics(rec, "traced", result)
    wl.cleanup(result)

    runner.attempted += 1
    extra, problems = wl.probes(rec)
    layers.update(extra)
    kernel_s, splits = workloads.kernel_probe()
    want = workloads.load_expected().get("kernel_splits")
    if want is not None and splits != want:
        problems.append(f"kernel probe made {splits} splits, recorded {want}")
    if problems:
        runner.failed += 1
        runner.problems.extend(f"probes: {p}" for p in problems)
    layers.update({
        "trace.wall_s": dt,
        "trace.overhead_s": dt - untraced_wall,
        "importance_dist.kernel_s": kernel_s,
        "importance_dist.kernel_splits": splits,
    })
    out = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out, exist_ok=True)
    rec.dump(os.path.join(out, f"spans-{wl.name}-{wl.seed}.json"))
    return layers


def weak_scaling(spark, work: str, wl, wall_4: float):
    """One call of the workload on a quarter of the input in a new
    ``local[1]`` session on the same JVM. Returns (per-core throughput at
    ``local[1]`` over per-core throughput at ``local[nproc]``, the new
    session, problems)."""
    cores = spark.sparkContext.defaultParallelism
    spark.stop()
    spark = start_spark(work, 1)
    quarter = type(wl)(spark, wl.seed, os.path.join(work, "quarter"))
    quarter.N_CONVS = wl.N_CONVS // cores
    quarter.prepare()
    t0 = time.perf_counter()
    result = quarter.run()
    wall_1 = time.perf_counter() - t0
    problems = quarter.check_written(result, quarter.rows)
    quarter.cleanup(result)
    eff = (quarter.rows / wall_1) / (wl.rows / wall_4 / cores)
    return eff, spark, problems


def main(argv=None) -> int:
    args = parse_args(argv if argv is not None else sys.argv[1:])
    require_engine()
    # a terminated run still stops the JVM and removes its work dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    work = os.path.join(ROOT, ".perfbench_work", f"run-{os.getpid()}")
    configure_environment(work)

    import hostweather
    import workloads

    if args.workload not in workloads.WORKLOADS:
        sys.exit(f"perfbench: unknown workload {args.workload!r}; choose "
                 f"from {sorted(workloads.WORKLOADS)}")
    wl_cls = workloads.WORKLOADS[args.workload]
    cores = os.cpu_count() or 1
    weather = hostweather.interference(cores)

    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_spark(work, cores)
        session_s = time.perf_counter() - t0
        wl = wl_cls(spark, args.seed, work)
        runner = Runner(spark, wl)

        setups = []
        for _ in range(SETUP_REPS):
            t0 = time.perf_counter()
            wl.prepare()
            setups.append(time.perf_counter() - t0)
        wl.oracle()
        # the first job in a fresh session is what a submitted batch job
        # waits for: JIT and Python-worker warm-up included
        job_s, _, _, result = runner.call("first", check=wl.first_check)
        if result is None:
            raise RuntimeError("the first job failed: " + runner.problems[-1])
        wl.cleanup(result)

        walls: list[float] = []
        cpus: list[float] = []
        jits: list[float] = []
        t_measure = time.perf_counter()
        while (time.perf_counter() - t_measure < args.seconds
               or len(walls) < MIN_SAMPLES):
            dt, cpu, jit, result = runner.call("warm")
            if result is None:
                if runner.failed > MIN_SAMPLES:
                    break
                continue
            walls.append(dt)
            cpus.append(cpu)
            jits.append(jit)
            wl.cleanup(result)
        if not walls:
            raise RuntimeError("no call completed")
        wall_s = statistics.median(walls)
        jobs, stages, tasks = (
            statistics.median(c[i] for c in runner.counts) for i in range(3)
        )

        detail = {
            "workload": args.workload, "seed": args.seed, "rows": wl.rows,
            "job_s": job_s, "walls_s": walls, "cpus_s": cpus,
            "jit_cpus_s": jits,
            "setups_s": setups,
            "session_start_s": session_s, "host_interference": weather,
            "spark_jobs": jobs, "survivors": getattr(wl, "survivors", None),
        }
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            spec = json.load(fh)
        kind = "per_layer" if args.trace else "end_to_end"
        unit_of = {m["name"]: m["unit"] for m in spec[kind]}
        if args.trace:
            # a layer the workload never calls did no work: zero
            metrics = dict.fromkeys(unit_of, 0.0)
            metrics.update(traced_call(spark, wl, runner, wall_s))
            metrics.update({
                "host.interference": weather,
                "spark.session_start_s": session_s,
                "run.warm_wall_s": wall_s,
                "run.samples": len(walls),
                "run.job_s": job_s,
                "run.jit_cpu_s": statistics.median(jits),
                "spark.jobs": jobs, "spark.stages": stages,
                "spark.tasks": tasks,
            })
            if wl.single_core_baseline:
                runner.attempted += 1
                try:
                    eff, spark, bad = weak_scaling(spark, work, wl, wall_s)
                    metrics[wl.single_core_baseline] = eff
                except Exception:
                    bad = [traceback.format_exc()]
                if bad:
                    runner.failed += 1
                    runner.problems.extend(f"local[1]: {p}" for p in bad)
        else:
            cpu_s = statistics.median(cpus)
            metrics = {
                "setup_s": statistics.median(setups),
                "cpu_s": cpu_s,
                "rows_per_cpu_s": wl.rows / cpu_s,
            }
        detail["problems"] = runner.problems[:20]
        print(json.dumps({"detail": detail}))
        for p in runner.problems:
            print(p, file=sys.stderr)
        print(json.dumps({
            "correct": runner.failed == 0,
            "attempted": runner.attempted,
            "failed": runner.failed,
            "metrics": {
                k: {"value": float(v), "unit": unit_of[k]}
                for k, v in metrics.items()
            },
        }))
        return 0
    finally:
        try:
            stop_all(spark)
        finally:
            shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
