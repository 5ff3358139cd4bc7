from __future__ import annotations

import logging

import numpy as np
import pytest

from featurescreening_jl_spark.plans.session import get_spark

logging.getLogger("py4j").setLevel(logging.WARNING)


@pytest.fixture(scope="session")
def spark():
    spark = get_spark("fs-tests", parallelism=8, shuffle_partitions=8)
    yield spark
    spark.stop()


# Seeded port of the reference's 25x11 matrix fixture
# (/root/reference/test/Fixtures.jl:41-82): 5 classes x 5 samples, column j
# has per-class slope, plus standard-normal noise — here with PINNED noise
# (PCG64 seed 1) so tests are fully deterministic.
FIXTURE_SEED = 1


def fixture_matrix() -> tuple[list[str], list[str], np.ndarray]:
    slopes = {"a": -0.2, "b": -0.1, "c": 0.0, "d": 0.1, "e": 0.2}
    y = [cls for cls in "abcde" for _ in range(5)]
    names = [f"{i:02d}" for i in range(1, 12)]
    base = np.array(
        [[slopes[cls] * j for j in range(11)] for cls in y], dtype=np.float64
    )
    noise = np.random.default_rng(FIXTURE_SEED).standard_normal(base.shape)
    return y, names, base + noise


def fixture_screen_config() -> dict:
    # /root/reference/test/Fixtures.jl:27-35
    return {
        "n_subfeatures": -1,
        "n_trees": 20,
        "partial_sampling": 0.9,
        "max_depth": -1,
        "min_samples_leaf": 2,
        "min_samples_split": 3,
        "min_purity_increase": 0.0,
    }


@pytest.fixture(scope="session")
def feature_frame(spark):
    from featurescreening_jl_spark.frame import FeatureFrame

    y, names, X = fixture_matrix()
    ff = FeatureFrame.from_arrays(spark, y, names, X)
    ff.df.cache().count()
    return ff


def spark_jobs(spark, group: str, fn) -> int:
    """Number of Spark jobs ``fn()`` starts, counted by job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    # job-start events reach the status store through the listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))
