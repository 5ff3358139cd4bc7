"""Stability selection over the partition-ensemble split counts.

Meinshausen & Bühlmann's stability selection (JRSS-B 2010), adapted to
the reference's split-count importance (reference semantics:
`/root/reference/src/importance.jl:42-50` ranks by split frequency; this
module asks how STABLE that ranking is under data perturbation): rank the
features on ``n_folds`` random subsamples, record each fold's
top-``top_m`` feature set, and score every feature by the fraction of
folds that ranked it top-``top_m``. Features whose selection frequency
clears the caller's cut are the stable set — a screening verdict that
one lucky forest can't produce, and the standard guard against the
winner's-curse features a single `screen` tournament can admit.

Scale shape: ONE partition-ensemble fit (operators/importance_dist.py)
gives the per-partition split-count matrix. Its layout hash-partitions
rows by id, so a subset S of the partitions is a hash subsample of the
rows, and the summed counts of S are those of a forest of |S|·t trees
over that subsample. Each fold is such a subset, drawn on the driver, so
``n_folds`` costs no extra Spark work. The layout makes the result
independent of how the input is partitioned. Driver-side state is the
P × n_features count matrix, never rows.
"""

from __future__ import annotations

from typing import Any, Optional

from featurescreening_jl_spark.frame import FeatureFrame
from featurescreening_jl_spark.operators.importance import (
    make_rng,
    rank_counts,
)
from featurescreening_jl_spark.operators.importance_dist import (
    DEFAULT_ENSEMBLE_PARTITIONS,
    _split_count_matrix,
)

__all__ = ["stability_select"]


def stability_select(
    ff: FeatureFrame,
    top_m: int,
    *,
    n_folds: int = 5,
    subsample: float = 0.5,
    config: Optional[dict[str, Any]] = None,
    rng: Any = 42,
    num_partitions: int = DEFAULT_ENSEMBLE_PARTITIONS,
) -> list[tuple[str, float, float]]:
    """Score every feature by how often it ranks top-``top_m`` across
    ``n_folds`` partition-subsample rankings of one ensemble fit.

    Returns ``[(feature_name, selection_freq, mean_rank), ...]`` sorted
    by frequency desc, mean rank asc, original column position asc —
    one row per feature that was ranked top-``top_m`` in at least one
    fold (``selection_freq >= 1/n_folds``; the stable set is the
    caller's cut, e.g. ``[n for n, f, _ in out if f >= 0.6]``).
    ``mean_rank`` averages the 0-based rank over the
    folds that selected the feature.

    The fit is ``feature_importance_partitioned(ff, config, fit_seed,
    num_partitions=num_partitions)`` with ``fit_seed`` the first draw of
    ``rng``. Fold ``f`` is a ``rng``-drawn set of
    ``max(1, round(subsample * num_partitions))`` partitions, ranked by
    their summed split counts: at ``subsample=1`` every fold is the fit's
    own ranking.
    """
    if not 0 < subsample <= 1:
        raise ValueError(f"subsample must be in (0, 1], got {subsample}")
    if top_m <= 0:
        raise ValueError(f"top_m must be positive, got {top_m}")
    if n_folds <= 0:
        raise ValueError(f"n_folds must be positive, got {n_folds}")
    if num_partitions <= 0:
        raise ValueError(
            f"num_partitions must be positive, got {num_partitions}"
        )

    master = make_rng(rng)
    fit_seed = int(master.integers(0, 2**31 - 1))
    matrix = _split_count_matrix(ff, config, fit_seed, num_partitions)
    size = max(1, round(subsample * num_partitions))

    hits: dict[str, int] = {}
    rank_sums: dict[str, int] = {}
    for _ in range(n_folds):
        fold = master.choice(num_partitions, size=size, replace=False)
        ranking = rank_counts(ff.feature_names, matrix[fold].sum(axis=0))
        for rank, (name, _count) in enumerate(ranking[:top_m]):
            hits[name] = hits.get(name, 0) + 1
            rank_sums[name] = rank_sums.get(name, 0) + rank

    pos = {n: i for i, n in enumerate(ff.feature_names)}
    out = [
        (
            name,
            round(hits[name] / n_folds, 6),
            round(rank_sums[name] / hits[name], 6),
        )
        for name in hits
    ]
    out.sort(key=lambda t: (-t[1], t[2], pos[t[0]]))
    return out
