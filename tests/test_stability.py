"""Stability selection (operators/stability.stability_select): the
Meinshausen–Bühlmann guard over the reference's split-count importance.
RNG-/forest-based, so verified by pytest invariants (the
feature_importance treatment), not a SQL oracle: determinism under a
fixed rng, separability (informative features stable, noise features
not), partitioning invariance, one fit whatever ``n_folds``, and folds
that equal the fit's own ranking when they hold every partition.
"""

from __future__ import annotations

import logging

import numpy as np
import pytest

from featurescreening_jl_spark.frame import FeatureFrame
from featurescreening_jl_spark.operators.importance import make_rng
from featurescreening_jl_spark.operators.importance_dist import (
    feature_importance_partitioned,
)
from featurescreening_jl_spark.operators.stability import stability_select

from conftest import fixture_screen_config, spark_jobs

pytestmark = pytest.mark.spark


def _separable_frame(spark, n_rows=120, n_noise=8, seed=3):
    """Two informative columns (class-shifted), n_noise pure-noise ones."""
    rng = np.random.default_rng(seed)
    y = ["pos" if i % 2 == 0 else "neg" for i in range(n_rows)]
    shift = np.array([3.0 if c == "pos" else -3.0 for c in y])
    names = ["inf_a", "inf_b"] + [f"noise_{i}" for i in range(n_noise)]
    X = rng.standard_normal((n_rows, len(names)))
    X[:, 0] += shift
    X[:, 1] -= shift
    return FeatureFrame.from_arrays(spark, y, names, X)


class TestStabilitySelect:
    def test_informative_features_are_stable(self, spark):
        ff = _separable_frame(spark)
        out = stability_select(
            ff, top_m=2, n_folds=5, config=fixture_screen_config(), rng=11,
            num_partitions=4,
        )
        freq = {name: f for name, f, _ in out}
        # the two informative columns dominate every fold's top-2
        assert freq.get("inf_a", 0.0) >= 0.8
        assert freq.get("inf_b", 0.0) >= 0.8
        # no noise column is stable
        for name, f, _ in out:
            if name.startswith("noise_"):
                assert f <= 0.4, (name, f)
        # sorted by freq desc
        freqs = [f for _, f, _ in out]
        assert freqs == sorted(freqs, reverse=True)

    def test_deterministic_and_partitioning_invariant(self, spark):
        ff = _separable_frame(spark)
        a = stability_select(
            ff, top_m=3, n_folds=3, config=fixture_screen_config(), rng=7
        )
        b = stability_select(
            ff, top_m=3, n_folds=3, config=fixture_screen_config(), rng=7
        )
        assert a == b and a
        # the ensemble layout hash-partitions rows by id: reshaping the
        # input cannot change which rows a partition (and so a fold) holds
        reshaped = FeatureFrame(ff.df.repartition(13), ff.feature_names)
        assert a == stability_select(
            reshaped, top_m=3, n_folds=3, config=fixture_screen_config(),
            rng=7,
        )

    def test_partitioned_backend_contract(self, spark):
        ff = _separable_frame(spark, n_rows=160)
        out = stability_select(
            ff,
            top_m=2,
            n_folds=3,
            config={"n_trees": 16, "max_depth": 6, "min_samples_leaf": 2,
                    "min_purity_increase": 0.0},
            rng=5,
            num_partitions=4,
        )
        freq = {name: f for name, f, _ in out}
        assert freq.get("inf_a", 0.0) >= 2 / 3
        assert freq.get("inf_b", 0.0) >= 2 / 3

    def test_validation(self, spark):
        ff = _separable_frame(spark, n_rows=40, n_noise=2)
        with pytest.raises(ValueError):
            stability_select(ff, top_m=0)
        with pytest.raises(ValueError):
            stability_select(ff, top_m=2, subsample=0.0)
        with pytest.raises(ValueError):
            stability_select(ff, top_m=2, num_partitions=0)

    def test_one_fit_whatever_n_folds(self, spark):
        """Folds are partition subsets of one fit: more folds start no
        more Spark jobs."""
        ff = _separable_frame(spark)
        ff.distinct_labels()
        jobs = [
            spark_jobs(
                spark, f"stability-{n}-folds",
                lambda n=n: stability_select(
                    ff, top_m=2, n_folds=n, config=fixture_screen_config()
                ),
            )
            for n in (3, 12)
        ]
        assert jobs[0] == jobs[1]

    def test_full_subsample_folds_equal_the_fit(self, spark):
        ff = _separable_frame(spark)
        cfg = fixture_screen_config()
        fit_seed = int(make_rng(7).integers(0, 2**31 - 1))
        ranking = feature_importance_partitioned(
            ff, cfg, fit_seed, num_partitions=4
        )
        out = stability_select(
            ff, top_m=3, n_folds=4, subsample=1.0, config=cfg, rng=7,
            num_partitions=4,
        )
        assert out == [
            (name, 1.0, float(rank))
            for rank, (name, _count) in enumerate(ranking[:3])
        ]

    def test_warns_when_partitions_grow_no_tree(self, spark, caplog):
        # 120 rows over 64 partitions leaves most below 2 x min_samples_leaf
        ff = _separable_frame(spark)
        logger = "featurescreening_jl_spark.operators.importance_dist"
        for parts, warned in ((64, True), (4, False)):
            caplog.clear()
            with caplog.at_level(logging.WARNING, logger=logger):
                stability_select(
                    ff, top_m=2, n_folds=3, config=fixture_screen_config(),
                    rng=11, num_partitions=parts,
                )
            msgs = [r.getMessage() for r in caplog.records
                    if r.name == logger]
            assert len(msgs) == int(warned), (parts, msgs)
            if warned:
                assert f"of {parts} ensemble partitions" in msgs[0]
