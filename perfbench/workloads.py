"""The benchmark's workloads: inputs built from a seed, one job call, and
the output checks that decide whether a call counts as failed.

Each workload is a closed loop of one client: ``run`` submits one job and
returns when its output is written. ``prepare`` builds the input from the
seed; ``check`` returns a list of problems (empty when the output is
correct). Traced runs add ``trace_targets`` (the layer wrappers),
``layer_metrics`` (read off the traced call's spans) and ``probes`` (layer
timings that need calls of their own, checked like any other call).
"""

from __future__ import annotations

import json
import os
import re
import shutil
import statistics
import time
from typing import Any

import numpy as np
from pyspark.sql import functions as F

import featurescreening_jl_spark as fs
from featurescreening_jl_spark.frame import FeatureFrame
from featurescreening_jl_spark.operators import dedup, importance_dist
from featurescreening_jl_spark.operators import screen as screen_mod
from featurescreening_jl_spark.operators.asof_join import asof_join
from featurescreening_jl_spark.operators.window_features import (
    TURN_FEATURE_COLS,
    turn_features,
    turn_sample_id,
)
from featurescreening_jl_spark.sources.checkpoint import RoundCheckpoint
from jobs import corpus_prep_job
from spans import patched

HERE = os.path.dirname(os.path.abspath(__file__))

# Kernel probe: one partition of screen_pipeline's widest training stage
# (~rows / ENSEMBLE_PARTITIONS rows, reduced_size + 7 features in round 2,
# n_trees / ENSEMBLE_PARTITIONS trees), on a fixed matrix so both the time
# and the split count repeat from run to run.
KERNEL_ROWS = 2_000
KERNEL_FEATURES = 11
KERNEL_SEED = 20240601


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def tree_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def load_expected() -> dict[str, Any]:
    with open(os.path.join(HERE, "expected.json")) as fh:
        return json.load(fh)


def synthetic_input(spark, seed: int, n_convs: int):
    """The seed's transcripts. Skew is off (``heavy_every=0``): one
    heavy conversation holds ~2,500 turns whose count is random, so with
    skew on the input size, and every timing with it, would swing from
    seed to seed."""
    return fs.synthetic_transcripts(
        spark, n_convs, seed=seed, heavy_every=0,
        num_partitions=spark.sparkContext.defaultParallelism,
    )


def storage_mb(spark) -> float:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() for i in infos) / 2**20


def kernel_probe() -> tuple[float, int]:
    """Time ``local_forest_split_counts`` on a fixed matrix of one
    partition's shape; return (seconds, total splits)."""
    from featurescreening_jl_spark.operators.importance import (
        DEFAULT_CONFIG_FOR_FEATURE_IMPORTANCE,
    )

    gen = np.random.default_rng(KERNEL_SEED)
    X = gen.normal(size=(KERNEL_ROWS, KERNEL_FEATURES))
    y = (X[:, 0] + 0.5 * X[:, 1] + gen.normal(scale=0.7, size=KERNEL_ROWS)
         > 0).astype(np.int64)
    cfg = {
        **DEFAULT_CONFIG_FOR_FEATURE_IMPORTANCE,
        **ScreenPipeline.FOREST,
        "_trees": ScreenPipeline.FOREST["n_trees"]
        // ScreenPipeline.ENSEMBLE_PARTITIONS,
        "_max_depth": ScreenPipeline.FOREST["max_depth"],
        "_n_candidate_features": 3,
    }
    t0 = time.perf_counter()
    counts = importance_dist.local_forest_split_counts(
        X, y, 2, cfg, np.random.default_rng(KERNEL_SEED)
    )
    return time.perf_counter() - t0, int(sum(counts.values()))


class ScreenPipeline:
    """transcripts → ``turn_features`` + ``asof_join`` (last tool call
    strictly before each turn) → two-round ``screen`` with the
    partition-ensemble backend → ``FeatureFrame.save``. Traced runs repeat
    the call once with a ``RoundCheckpoint``."""

    name = "screen_pipeline"
    # traced runs add one local[1] call on a quarter of the input
    single_core_baseline = "screen.weak_scaling_1to4"
    N_CONVS = 300
    ENSEMBLE_PARTITIONS = 4
    REDUCED_SIZE = 4
    STEP_SIZE = 8
    FOREST = {"n_trees": 64, "max_depth": 8, "min_samples_leaf": 10,
              "min_purity_increase": 0.0}
    FEATURES = [*TURN_FEATURE_COLS, "turns_since_tool"]

    def __init__(self, spark, seed: int, work: str) -> None:
        self.spark, self.seed, self.work = spark, seed, work
        self.input_path = os.path.join(work, "transcripts")
        self.rows = 0
        self.iteration = 0
        self.survivors: list[str] | None = None
        self.expected = load_expected()[self.name].get(str(seed))
        self.cache_mb = 0.0

    # -- input -----------------------------------------------------------------

    def prepare(self) -> None:
        synthetic_input(self.spark, self.seed, self.N_CONVS).write.mode(
            "overwrite"
        ).parquet(self.input_path)
        self.raw = self.spark.read.parquet(self.input_path)
        self.rows = self.raw.count()

    def oracle(self) -> None:
        """Nothing to precompute: the checks need only the row count."""

    # -- the job -----------------------------------------------------------------

    def features(self, *, keep_match_ts: bool = False):
        raw = self.raw
        turns = turn_features(raw, keep_text=False)
        tools = raw.where(F.col("tool").isNotNull()).select(
            "conv_id", "ts", F.col("turn_idx").alias("last_tool_turn")
        )
        return asof_join(
            turns, tools, on="ts", by="conv_id",
            value_cols=["last_tool_turn"], strategy="window",
            allow_exact_matches=False, keep_match_ts=keep_match_ts,
        )

    def frame(self) -> FeatureFrame:
        since = F.col("turn_idx") - F.coalesce(
            F.col("last_tool_turn"), F.lit(-1)
        )
        df = self.features().select(
            turn_sample_id().alias("sample_id"),
            F.when(F.col("label_next_is_tool") > 0, "tool")
            .otherwise("no_tool").alias("label"),
            *[F.col(c) for c in TURN_FEATURE_COLS],
            since.cast("double").alias("turns_since_tool"),
        )
        return FeatureFrame(df, self.FEATURES)

    def paths(self) -> tuple[str, str]:
        base = os.path.join(self.work, f"out{self.iteration}")
        return os.path.join(base, "features"), os.path.join(base, "ckpt")

    def run(self, rec=None, *, checkpoint: bool = False) -> dict[str, Any]:
        """One job. ``checkpoint=True`` snapshots every round with a
        ``RoundCheckpoint`` (the traced checkpoint probe)."""
        out, ckpt_dir = self.paths()
        hooks: dict[str, Any] = {}
        if rec is not None:
            hooks = self._round_hooks(rec)
        result = screen_mod.screen(
            self.frame(),
            reduced_size=self.REDUCED_SIZE,
            step_size=self.STEP_SIZE,
            config=self.FOREST,
            importance_backend="partitioned",
            backend_options={"num_partitions": self.ENSEMBLE_PARTITIONS},
            checkpoint=RoundCheckpoint(ckpt_dir) if checkpoint else None,
            show_progress=False,
            unpersist=False,
            **hooks,
        )
        result.save(out)
        return {"survivors": result.names, "out": out,
                "ckpt": ckpt_dir if checkpoint else None,
                "n_rounds": -(-len(self.FEATURES) // self.STEP_SIZE)}

    def _round_hooks(self, rec) -> dict[str, Any]:
        open_round: list = []

        def before(selected, new):
            cm = rec.span("screen.round")
            cm.__enter__()
            open_round.append(cm)

        def after(selected):
            self.cache_mb = max(self.cache_mb, storage_mb(self.spark))
            open_round.pop().__exit__(None, None, None)

        return {"before": before, "after": after}

    def cleanup(self, result: dict[str, Any]) -> None:
        self.spark.catalog.clearCache()
        shutil.rmtree(os.path.dirname(result["out"]), ignore_errors=True)
        self.iteration += 1

    # -- output checks ------------------------------------------------------------

    def check(self, result: dict[str, Any]) -> list[str]:
        problems = self.check_written(result, self.rows)
        survivors = result["survivors"]
        if self.survivors is None:
            self.survivors = survivors
        elif survivors != self.survivors:
            problems.append(f"survivors changed: {survivors} vs {self.survivors}")
        if self.expected is not None and survivors != self.expected:
            problems.append(
                f"survivors {survivors} differ from the list recorded for "
                f"seed {self.seed}: {self.expected}"
            )
        return problems

    def check_written(self, result: dict[str, Any], rows: int) -> list[str]:
        """Row count of the saved table; checkpoint state and lineage when
        the job checkpointed."""
        problems = []
        survivors = result["survivors"]
        n_out = self.spark.read.parquet(result["out"]).count()
        if n_out != rows:
            problems.append(f"{n_out} result rows for {rows} input turns")
        if result["ckpt"] is None:
            return problems
        with open(os.path.join(result["ckpt"], "state.json")) as fh:
            state = json.load(fh)
        if state != {"round": result["n_rounds"] - 1, "selected": survivors}:
            problems.append(f"state.json {state} does not name the last round "
                            f"and its survivors")
        lineage = RoundCheckpoint(result["ckpt"]).lineage(self.spark)
        rounds = sorted(r["round"] for r in lineage.select("round").collect())
        if rounds != list(range(result["n_rounds"])):
            problems.append(f"_lineage rounds {rounds}")
        return problems

    def first_check(self, result: dict[str, Any]) -> list[str]:
        return self.check(result) + self.leakage_check()

    def leakage_check(self) -> list[str]:
        """Every matched tool call must be strictly earlier than its turn.
        Runs once, outside the timed region."""
        df = self.features(keep_match_ts=True)
        row = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.count("__asof_src_ts").alias("matched"),
            F.sum((F.col("__asof_src_ts") >= F.col("ts")).cast("int"))
            .alias("leaks"),
        ).first()
        problems = []
        if row["n"] != self.rows:
            problems.append(f"{row['n']} featurized rows for {self.rows} turns")
        if not row["matched"]:
            problems.append("the as-of join matched no tool call")
        if row["leaks"]:
            problems.append(f"{row['leaks']} as-of matches at or after their turn")
        return problems

    # -- traced run --------------------------------------------------------------

    def trace_targets(self, rec) -> list[tuple[Any, str, Any]]:
        return [
            (screen_mod, "screen",
             rec.wrapper("screen", screen_mod.screen)),
            (importance_dist, "feature_importance_partitioned",
             rec.wrapper("importance_dist.fit",
                         importance_dist.feature_importance_partitioned)),
            (FeatureFrame, "save",
             rec.wrapper("frame.save", FeatureFrame.save)),
            (FeatureFrame, "distinct_labels",
             rec.wrapper("frame.distinct_labels", FeatureFrame.distinct_labels,
                         when=lambda self: self._labels_cache is None)),
            (RoundCheckpoint, "save_round",
             rec.wrapper("checkpoint.save_round", RoundCheckpoint.save_round)),
        ]

    def layer_metrics(self, rec, run: str, result: dict[str, Any]
                      ) -> dict[str, float]:
        rounds = rec.durations("screen.round", run)
        fits = rec.durations("importance_dist.fit", run)
        return {
            "screen.rounds": len(rounds),
            "screen.round_p50_s": statistics.median(rounds),
            "screen.round_max_s": max(rounds),
            "screen.self_s": sum(rec.self_time(s)
                                 for s in rec.named("screen", run)),
            "screen.cache_mb": self.cache_mb,
            "importance_dist.fit_s": sum(fits),
            "importance_dist.fit_calls": len(fits),
            "importance_dist.fit_max_s": max(fits),
            "frame.save_s": rec.total("frame.save", run),
            "frame.save_calls": len(rec.named("frame.save", run)),
            "frame.distinct_labels_s": rec.total("frame.distinct_labels", run),
            "frame.distinct_labels_calls":
                len(rec.named("frame.distinct_labels", run)),
            "output.bytes": tree_bytes(os.path.dirname(result["out"])),
        }

    def probes(self, rec) -> tuple[dict[str, float], list[str]]:
        """Layer timings that need calls of their own: the lazy builders,
        timed by noop-materializing their output, and one job with a
        ``RoundCheckpoint``, whose output is checked like any other."""
        t0 = time.perf_counter()
        noop(turn_features(self.raw, keep_text=False))
        featurize = time.perf_counter() - t0
        t0 = time.perf_counter()
        noop(self.features())
        with_asof = time.perf_counter() - t0

        rec.run_id = "checkpointed"
        with patched(self.trace_targets(rec)):
            result = self.run(rec, checkpoint=True)
        problems = self.check(result)
        metrics = {
            "window_features.featurize_s": featurize,
            "asof_join.backfill_s": with_asof - featurize,
            "checkpoint.save_round_s":
                rec.total("checkpoint.save_round", "checkpointed"),
            "checkpoint.save_round_calls":
                len(rec.named("checkpoint.save_round", "checkpointed")),
            "checkpoint.bytes": tree_bytes(result["ckpt"]),
        }
        self.cleanup(result)
        return metrics, problems


# -- corpus dedup -------------------------------------------------------------

CLONE_OFFSET = 1_000_000_000
CLONE_EVERY = 15
JACCARD = 0.8


def shingle_set(text: str, n: int = 3) -> set[str]:
    """Word n-gram set, written out independently of the engine's
    ``shingles``: trim spaces, lower-case, collapse whitespace runs."""
    toks = re.sub(r"\s+", " ", text.strip(" ").lower()).split(" ")
    return {" ".join(toks[i:i + n]) for i in range(max(len(toks) - n, 0) + 1)}


def jaccard(a: str, b: str) -> float:
    sa, sb = shingle_set(a), shingle_set(b)
    return len(sa & sb) / len(sa | sb)


class CorpusDedup:
    """Each conversation rendered to one document, plus a clone without
    its last two turns of every 15th. The job is the near-duplicate pair
    graph that ``jobs.corpus_prep_job --hashed-verify`` builds
    (``minhash_lsh_pairs`` with its defaults), written as parquet; traced
    runs also time the whole corpus-prep job once."""

    name = "corpus_dedup"
    single_core_baseline = None
    N_CONVS = 150

    def __init__(self, spark, seed: int, work: str) -> None:
        self.spark, self.seed, self.work = spark, seed, work
        self.input_path = os.path.join(work, "docs")
        self.rows = 0
        self.iteration = 0
        self.texts: dict[int, str] = {}

    def prepare(self) -> None:
        raw = synthetic_input(self.spark, self.seed, self.N_CONVS)
        turns = raw.groupBy("conv_id").agg(
            F.array_sort(F.collect_list(F.struct("turn_idx", "text")))
            .alias("t")
        )
        texts = F.transform("t", lambda s: s["text"])
        idx = F.substring("conv_id", 6, 100).cast("long")
        originals = turns.select(
            idx.alias("doc_id"), F.concat_ws(" ", texts).alias("text")
        )
        clones = turns.where(idx % CLONE_EVERY == 0).select(
            (idx + CLONE_OFFSET).alias("doc_id"),
            F.concat_ws(" ", F.slice(texts, F.lit(1), F.size("t") - 2))
            .alias("text"),
        )
        originals.unionByName(clones).write.mode("overwrite").parquet(
            self.input_path
        )
        self.docs = self.spark.read.parquet(self.input_path)
        self.rows = self.docs.count()

    def oracle(self) -> None:
        """Exact Jaccard of every planted (original, clone) pair."""
        self.texts = {
            r["doc_id"]: r["text"]
            for r in self.docs.select("doc_id", "text").collect()
        }
        self.planted = {
            (k, k + CLONE_OFFSET): jaccard(self.texts[k],
                                           self.texts[k + CLONE_OFFSET])
            for k in self.texts if k + CLONE_OFFSET in self.texts
        }
        self.eligible = {p for p, j in self.planted.items() if j >= JACCARD}

    def run(self, rec=None) -> dict[str, Any]:
        out = os.path.join(self.work, f"out{self.iteration}")
        pairs = dedup.minhash_lsh_pairs(
            self.docs, id_col="doc_id", text_col="text",
            jaccard_threshold=JACCARD, hashed_verify=True,
        )
        pairs.write.mode("overwrite").parquet(out)
        return {"out": out}

    def cleanup(self, result: dict[str, Any]) -> None:
        self.spark.catalog.clearCache()
        shutil.rmtree(result["out"], ignore_errors=True)
        self.iteration += 1

    def first_check(self, result: dict[str, Any]) -> list[str]:
        return self.check(result)

    def check(self, result: dict[str, Any]) -> list[str]:
        """Also records the pair set and recall in ``result`` for
        ``layer_metrics``."""
        rows = self.spark.read.parquet(result["out"]).collect()
        pairs = [(r["id_a"], r["id_b"], r["jaccard"]) for r in rows]
        result["pairs"] = {(a, b) for a, b, _ in pairs}
        result["recall"] = (
            len(result["pairs"] & self.eligible) / max(len(self.eligible), 1)
        )
        problems = []
        for a, b, j in pairs:
            exact = self.planted.get((a, b))
            if exact is None:
                exact = jaccard(self.texts[a], self.texts[b])
                problems.append(f"pair ({a}, {b}) is not a planted clone "
                                f"(exact Jaccard {exact:.3f})")
            elif exact < JACCARD or abs(exact - j) > 1e-9:
                problems.append(f"pair ({a}, {b}) reports Jaccard {j}, "
                                f"exact {exact}")
        return problems

    # -- traced run --------------------------------------------------------------

    def trace_targets(self, rec) -> list[tuple[Any, str, Any]]:
        # minhash_lsh_pairs only builds a plan; the traced call's own span
        # (the write that runs it) is the dedup layer
        return []

    def layer_metrics(self, rec, run: str, result: dict[str, Any]
                      ) -> dict[str, float]:
        return {"dedup.pairs": len(result["pairs"]),
                "dedup.recall": result["recall"],
                "output.bytes": tree_bytes(result["out"])}

    def probes(self, rec) -> tuple[dict[str, float], list[str]]:
        """One traced ``corpus_prep_job.main --hashed-verify`` over the
        same documents. Its pair graph must equal the operator's, and it
        must write every document but the clones it paired."""
        out = os.path.join(self.work, "corpus_prep")
        metrics_out = out + ".metrics.json"
        captured: list = []
        build = corpus_prep_job.build

        def capture(spark, args):
            res = build(spark, args)
            captured.append(res[2])
            return res

        rec.run_id = "corpus_prep"
        with patched([(corpus_prep_job, "build",
                       rec.wrapper("corpus_prep.build", capture))]):
            with rec.span("corpus_prep.main"):
                corpus_prep_job.main([
                    "--input", self.input_path, "--output", out,
                    "--hashed-verify", "--jaccard-threshold", str(JACCARD),
                    "--metrics-out", metrics_out, "--verbosity", "0",
                ])
        pairs = {(r["id_a"], r["id_b"]) for r in captured[0].collect()}
        with open(metrics_out) as fh:
            written = json.load(fh)["stages"]["output"]
        reference = self.run()
        problems = self.check(reference)
        if pairs != reference["pairs"]:
            problems.append(f"corpus_prep paired {sorted(pairs)}, the "
                            f"operator {sorted(reference['pairs'])}")
        dropped = len({b for _, b in pairs})
        if written != self.rows - dropped:
            problems.append(f"corpus_prep wrote {written} docs, expected "
                            f"{self.rows - dropped}")
        self.cleanup(reference)
        build_s = rec.total("corpus_prep.build", "corpus_prep")
        return {
            "corpus_prep.build_s": build_s,
            "corpus_prep.write_s":
                rec.total("corpus_prep.main", "corpus_prep") - build_s,
        }, problems


WORKLOADS = {w.name: w for w in (ScreenPipeline, CorpusDedup)}
