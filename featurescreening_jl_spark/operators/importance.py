"""Split-frequency feature importance from Spark ML random forests.

The reference ranks features by HOW OFTEN they appear as split variables
across all trees of a fitted random forest — a fold over every internal node
accumulating ``featid → count`` then a descending sort
(/root/reference/src/importance.jl:62-94). That statistic is deliberately
NOT Spark ML's ``featureImportances`` (which is Gini-importance, normalized
— a different number); we traverse the fitted model's trees ourselves.

Implementation: one ``toDebugString`` fetch per fitted model (a single py4j
round-trip; the forest is driver-resident and tiny relative to the data) and
a regex count of ``If (feature <i> ...`` lines — each internal node prints
exactly one ``If`` line. A fold over the java node objects would cost
O(nodes) py4j round-trips; the string parse is O(1) round-trips.

Tie-break: the reference's sort leaves equal-count order unspecified (stable
sort over Dict iteration order, /root/reference/src/importance.jl:66). We
strengthen to a total order — count desc, then ORIGINAL COLUMN POSITION asc
— so results are cluster-deterministic (SURVEY.md §2.6, §7.3).
"""

from __future__ import annotations

import re
from collections import Counter
from typing import Any, Optional

from pyspark.ml.classification import (
    RandomForestClassificationModel,
    RandomForestClassifier,
)
from pyspark.ml.feature import VectorAssembler
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from featurescreening_jl_spark.frame import FeatureFrame
from featurescreening_jl_spark.operators.selection import make_rng

__all__ = [
    "DEFAULT_SCREEN_CONFIG",
    "DEFAULT_CONFIG_FOR_FEATURE_IMPORTANCE",
    "feature_importance",
    "feature_importance_from_model",
    "fit_forest",
    "rank_counts",
    "split_counts",
    "rf_params",
]

# Reference defaults, /root/reference/src/FeatureScreening.jl:54-61
DEFAULT_SCREEN_CONFIG: dict[str, Any] = {
    "n_subfeatures": -1,
    "n_trees": 1000,
    "partial_sampling": 0.9,
    "max_depth": -1,
    "min_samples_leaf": 10,
    "min_samples_split": 10,
    "min_purity_increase": 0.0,
}

# Reference defaults, /root/reference/src/importance.jl:22-29
DEFAULT_CONFIG_FOR_FEATURE_IMPORTANCE: dict[str, Any] = {
    "n_subfeatures": -1,
    "n_trees": 100,
    "partial_sampling": 0.7,
    "max_depth": -1,
    "min_samples_leaf": 4,
    "min_samples_split": 4,
    "min_purity_increase": 0.1,
}

_SPARK_MAX_DEPTH = 30  # Spark ML hard cap; reference -1 = unbounded


def rf_params(config: dict[str, Any], seed: int) -> dict[str, Any]:
    """Map reference forest knobs onto RandomForestClassifier params.

    Documented deltas (SURVEY.md §7.3):
    - ``n_subfeatures=-1`` → ``featureSubsetStrategy='sqrt'`` (the reference's
      library default for -1 is round(sqrt(n_features)));
    - ``max_depth=-1`` (unbounded) → Spark's cap of 30;
    - ``min_samples_split`` has no Spark twin — implied lower bound is
      2×minInstancesPerNode; we take max(leaf, ceil(split/2)) for
      minInstancesPerNode so both constraints are at least as strict.
    """
    cfg = {**DEFAULT_CONFIG_FOR_FEATURE_IMPORTANCE, **(config or {})}
    n_sub = cfg["n_subfeatures"]
    if n_sub == -1 or n_sub == 0:
        strategy = "sqrt"
    else:
        strategy = str(int(n_sub))
    depth = cfg["max_depth"]
    depth = _SPARK_MAX_DEPTH if depth is None or depth < 0 else min(int(depth), _SPARK_MAX_DEPTH)
    min_leaf = int(cfg["min_samples_leaf"])
    min_split = int(cfg["min_samples_split"])
    min_instances = max(min_leaf, -(-min_split // 2))
    return {
        "numTrees": int(cfg["n_trees"]),
        "subsamplingRate": float(cfg["partial_sampling"]),
        "featureSubsetStrategy": strategy,
        "maxDepth": depth,
        "minInstancesPerNode": min_instances,
        "minInfoGain": float(cfg["min_purity_increase"]),
        "seed": int(seed),
        "bootstrap": True,
    }


def _assembled(ff: FeatureFrame) -> DataFrame:
    """(features vector, numeric label) DataFrame for Spark ML.

    Label indexing is deterministic: alphabetical over the distinct label
    strings (driver-side, labels are low-cardinality class names).
    """
    assembler = VectorAssembler(
        inputCols=ff.feature_names, outputCol="__features", handleInvalid="keep"
    )
    labels = ff.distinct_labels()
    mapping = F.create_map(
        *[x for lbl, i in zip(labels, range(len(labels))) for x in (F.lit(lbl), F.lit(float(i)))]
    )
    base = ff.df.select(
        *[F.col(c) for c in ff.feature_names],
        mapping[F.col(ff.label_col)].alias("__label"),
    )
    return assembler.transform(base).select("__features", "__label")


def fit_forest(
    ff: FeatureFrame,
    config: Optional[dict[str, Any]] = None,
    seed: int = 0,
) -> RandomForestClassificationModel:
    """Fit a random forest on the frame — the reference's ``build_forest``
    call site (/root/reference/src/importance.jl:47), Spark ML flavored.

    The assembled training frame is repartitioned to the cluster's default
    parallelism and persisted for the duration of the fit: RF training runs
    one Spark job per tree-depth level, and without these two steps every
    level would (a) re-derive the full upstream featurization lineage and
    (b) inherit whatever narrow partitioning AQE coalesced the input to —
    on a 32-core cluster an AQE-coalesced 2-partition input caps every
    training iteration at 2-way parallelism.
    """
    params = rf_params(config or {}, seed)
    rf = RandomForestClassifier(
        featuresCol="__features", labelCol="__label", **params
    )
    spark = ff.df.sparkSession
    assembled = _assembled(ff).repartition(spark.sparkContext.defaultParallelism)
    assembled.persist()
    try:
        return rf.fit(assembled)
    finally:
        assembled.unpersist()


_IF_FEATURE = re.compile(r"If \(feature (\d+) ")


def split_counts(model: RandomForestClassificationModel) -> Counter:
    """Count per-feature split occurrences over all trees — the reference's
    fold + accumulate_id! (/root/reference/src/importance.jl:62-94): every
    internal node counts once, leaves never."""
    debug = model.toDebugString
    return Counter(int(m) for m in _IF_FEATURE.findall(debug))


def rank_counts(names: list[str], counts) -> list[tuple[str, int]]:
    """Ranked ``(feature_name, split_count)`` pairs from ``counts[i]``, the
    split count of column ``i`` (a ``Counter`` or a dense vector): count
    desc, original column position asc on ties (deterministic total
    order); never-split features absent."""
    order = sorted(range(len(names)), key=lambda i: (-counts[i], i))
    return [(names[i], int(counts[i])) for i in order if counts[i] > 0]


def feature_importance_from_model(
    model: RandomForestClassificationModel, names: list[str]
) -> list[tuple[str, int]]:
    """Ranked ``(feature_name, split_count)`` pairs of a fitted forest, in
    the :func:`rank_counts` order."""
    return rank_counts(names, split_counts(model))


def feature_importance(
    ff: FeatureFrame,
    config: Optional[dict[str, Any]] = None,
    rng: Any = None,
) -> list[tuple[str, int]]:
    """Rank features by split frequency in a freshly fitted forest —
    the reference's ``feature_importance(fs; config)``
    (/root/reference/src/importance.jl:42-50). Features never split on are
    absent from the result (same contract as the reference,
    /root/reference/test/test.importance.jl:26)."""
    seed = int(make_rng(rng).integers(0, 2**31 - 1))
    model = fit_forest(ff, config, seed=seed)
    return feature_importance_from_model(model, ff.feature_names)
