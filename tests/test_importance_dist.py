"""Partition-ensemble importance backend (operators/importance_dist.py).

Contract mirror of the MLlib backend tests: output invariants, seeded
determinism (including across parallelism levels — the property that makes
cluster-size-independent results possible), and signal detection on a
separable fixture.
"""

from __future__ import annotations

import numpy as np
import pytest
from collections import Counter

from featurescreening_jl_spark.frame import FeatureFrame
from featurescreening_jl_spark.operators.importance_dist import (
    _partition_trees,
    ensemble_layout,
    feature_importance_partitioned,
    local_forest_split_counts,
)
from featurescreening_jl_spark.operators.screen import screen

from conftest import spark_jobs

CFG = {"n_trees": 64, "max_depth": 8, "min_samples_leaf": 5,
       "min_samples_split": 10, "min_purity_increase": 0.0}


def _separable_frame(spark, n=600, noise_cols=4, seed=3):
    """Two classes separated on feature 'sig'; the rest pure noise."""
    rng = np.random.default_rng(seed)
    y = np.repeat(["a", "b"], n // 2)
    sig = np.where(y == "a", 0.0, 3.0) + rng.standard_normal(n) * 0.3
    X = np.column_stack(
        [sig] + [rng.standard_normal(n) for _ in range(noise_cols)]
    )
    names = ["sig"] + [f"noise{i}" for i in range(noise_cols)]
    return FeatureFrame.from_arrays(spark, y, names, X)


class TestLocalForest:
    def test_finds_signal(self):
        rng = np.random.default_rng(0)
        n = 500
        y = np.repeat([0, 1], n // 2)
        X = np.column_stack(
            [np.where(y == 0, 0.0, 5.0) + rng.standard_normal(n) * 0.1,
             rng.standard_normal(n), rng.standard_normal(n)]
        )
        cfg = {**CFG, "partial_sampling": 0.9, "n_subfeatures": -1,
               "_trees": 16, "_max_depth": 8, "_n_candidate_features": 2}
        counts = local_forest_split_counts(
            X, y, 2, cfg, np.random.default_rng(1)
        )
        assert isinstance(counts, Counter)
        assert counts.most_common(1)[0][0] == 0  # signal column wins

    def test_min_leaf_respected(self):
        # all-identical rows → no valid split anywhere
        X = np.ones((50, 3))
        y = np.array([0, 1] * 25)
        cfg = {**CFG, "partial_sampling": 0.9, "_trees": 8, "_max_depth": 8,
               "_n_candidate_features": 2}
        counts = local_forest_split_counts(
            X, y, 2, cfg, np.random.default_rng(1)
        )
        assert counts == Counter()


class TestPartitionedImportance:
    def test_invariants(self, spark):
        ff = _separable_frame(spark)
        pairs = feature_importance_partitioned(
            ff, config=CFG, rng=7, num_partitions=8
        )
        names = set(ff.feature_names)
        assert all(n in names for n, _ in pairs)
        assert all(isinstance(c, int) and c > 0 for _, c in pairs)
        counts = [c for _, c in pairs]
        assert counts == sorted(counts, reverse=True)
        assert pairs[0][0] == "sig"

    def test_deterministic_given_seed(self, spark):
        ff = _separable_frame(spark)
        a = feature_importance_partitioned(ff, config=CFG, rng=7,
                                           num_partitions=8)
        b = feature_importance_partitioned(ff, config=CFG, rng=7,
                                           num_partitions=8)
        assert a == b

    def test_deterministic_across_parallelism(self, spark):
        # fixed num_partitions ⇒ identical results whatever the core count;
        # emulate by varying shuffle partitions of the input side
        ff = _separable_frame(spark)
        a = feature_importance_partitioned(ff, config=CFG, rng=7,
                                           num_partitions=8)
        ff2 = FeatureFrame(
            ff.df.repartition(3), ff.feature_names
        )
        b = feature_importance_partitioned(ff2, config=CFG, rng=7,
                                           num_partitions=8)
        assert a == b

    def test_screen_with_partitioned_backend(self, spark):
        ff = _separable_frame(spark, noise_cols=7)
        result = screen(
            ff, reduced_size=2, step_size=3, config=CFG, rng=42,
            show_progress=False, importance_backend="partitioned",
            backend_options={"num_partitions": 8},
        )
        assert result.n_features == 2
        assert "sig" in result.feature_names
        assert result.count() == 600


def _record_training_inputs(monkeypatch, df) -> list[str]:
    """Executed plan of every DataFrame handed to ``mapInPandas`` — the
    training stage's input — captured at call time, while the loop cache
    is still registered."""
    cls = type(df)
    original = cls.mapInPandas
    plans: list[str] = []

    def recording(self, *args, **kwargs):
        plans.append(self._jdf.queryExecution().executedPlan().toString())
        return original(self, *args, **kwargs)

    monkeypatch.setattr(cls, "mapInPandas", recording)
    return plans


def _above_cache(plan: str) -> str:
    """The operators planned above the cache scan (the tree string lists
    the root first; the cached plan's own exchange sits below the scan)."""
    assert "InMemoryTableScan" in plan
    return plan.split("InMemoryTableScan")[0]


class TestPlanShape:
    def test_screen_training_is_map_only(self, spark, monkeypatch):
        """screen() lays its loop cache out once; every round's training
        input is then a narrow projection of the cache — no Exchange, no
        Sort above the scan."""
        ff = _separable_frame(spark, noise_cols=7)
        plans = _record_training_inputs(monkeypatch, ff.df)
        screen(
            ff, reduced_size=2, step_size=3, config=CFG, rng=42,
            show_progress=False, importance_backend="partitioned",
            backend_options={"num_partitions": 8},
        )
        assert len(plans) == 3  # ceil(8 / 3) rounds
        for plan in plans:
            above = _above_cache(plan)
            assert above.count("Exchange") == 0, plan
            assert above.count("Sort [") == 0, plan

    def test_fit_over_laid_out_cache_runs_one_job(self, spark):
        """Each task's split counts are collected as they are: no
        aggregation job after training."""
        ff = _separable_frame(spark)
        base = ensemble_layout(ff.df, ff.id_col, 8).persist()
        try:
            base.count()
            laid_out = FeatureFrame(base, ff.feature_names)
            laid_out.distinct_labels()
            jobs = spark_jobs(
                spark, "partitioned-fit-one-job",
                lambda: feature_importance_partitioned(
                    laid_out, config=CFG, rng=7, num_partitions=8
                ),
            )
            assert jobs == 1
        finally:
            base.unpersist()

    def test_other_partition_count_plans_one_exchange(self, spark,
                                                      monkeypatch):
        ff = _separable_frame(spark)
        base = ensemble_layout(ff.df, ff.id_col, 8).persist()
        try:
            plans = _record_training_inputs(monkeypatch, base)
            feature_importance_partitioned(
                FeatureFrame(base, ff.feature_names), config=CFG, rng=7,
                num_partitions=4,
            )
            assert len(plans) == 1
            assert _above_cache(plans[0]).count("Exchange") == 1, plans[0]
        finally:
            base.unpersist()


class TestBackendAgreement:
    def test_top_feature_agrees_with_mllib(self, spark):
        ff = _separable_frame(spark)
        dist = feature_importance_partitioned(ff, config=CFG, rng=5,
                                              num_partitions=8)
        from featurescreening_jl_spark.operators.importance import (
            feature_importance,
        )

        ml = feature_importance(ff, config=CFG, rng=5)
        assert dist[0][0] == ml[0][0] == "sig"


class TestTreeBudget:
    @pytest.mark.parametrize(
        "n_trees,parts", [(1000, 64), (100, 64), (64, 4), (20, 64)]
    )
    def test_partition_trees_keep_the_budget(self, n_trees, parts):
        trees = _partition_trees(n_trees, parts)
        assert len(trees) == parts and min(trees) >= 1
        assert sum(trees) == max(n_trees, parts)
        assert max(trees) - min(trees) <= 1
