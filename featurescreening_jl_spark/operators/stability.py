"""Stability selection over the screening importance backends.

Meinshausen & Bühlmann's stability selection (JRSS-B 2010), adapted to
the reference's split-count importance (reference semantics:
`/root/reference/src/importance.jl:42-50` ranks by split frequency; this
module asks how STABLE that ranking is under data perturbation): fit the
forest on ``n_folds`` deterministic half-subsamples, record each fold's
top-``top_m`` feature set, and score every feature by the fraction of
folds that ranked it top-``top_m``. Features whose selection frequency
clears the caller's cut are the stable set — a screening verdict that
one lucky forest can't produce, and the standard guard against the
winner's-curse features a single `screen` tournament can admit.

Scale shape: each fold is ONE importance fit over a portable-hash
subsample — a map-side filter on the cached frame (the MEMBERSHIP is a
pure function of (id, fold seed), invariant to partitioning, so a
resumed run replays identical folds; the forest fit itself is
deterministic for a fixed partitioning, the same contract `screen`
documents). With the
``partitioned`` backend every fold is map-only training with additive
counters; folds run sequentially to share the cached base frame rather
than fight over executors. Driver-side state is one ranking per fold —
O(n_features · n_folds) tuples, never rows.
"""

from __future__ import annotations

from typing import Any, Optional

from pyspark.sql import functions as F

from featurescreening_jl_spark.frame import FeatureFrame
from featurescreening_jl_spark.operators.importance import (
    feature_importance,
    make_rng,
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
    backend: str = "mllib",
    backend_options: Optional[dict[str, Any]] = None,
) -> list[tuple[str, float, float]]:
    """Score every feature by how often it ranks top-``top_m`` across
    ``n_folds`` half-subsample importance fits.

    Returns ``[(feature_name, selection_freq, mean_rank), ...]`` sorted
    by frequency desc, mean rank asc, original column position asc —
    one row per feature that was ranked top-``top_m`` in at least one
    fold (``selection_freq >= 1/n_folds``; the stable set is the
    caller's cut, e.g. ``[n for n, f, _ in out if f >= 0.6]``).
    ``mean_rank`` averages the 0-based rank over the
    folds that selected the feature.

    Folds are portable-hash subsamples: row membership in fold ``f`` is
    ``hash_unit(id, seed_f) < subsample`` with per-fold seeds spawned
    from ``rng`` (the screen.py seed-stream pattern) — deterministic,
    resume-identical, and independent of how the data is partitioned.

    ``backend="partitioned"`` routes each fit through
    ``feature_importance_partitioned`` (map-only ensemble training) with
    ``backend_options`` forwarded; ``"mllib"`` uses the Spark ML forest.
    """
    if not 0 < subsample <= 1:
        raise ValueError(f"subsample must be in (0, 1], got {subsample}")
    if top_m <= 0:
        raise ValueError(f"top_m must be positive, got {top_m}")
    if n_folds <= 0:
        raise ValueError(f"n_folds must be positive, got {n_folds}")

    from featurescreening_jl_spark.operators.sampling import hash_unit

    master = make_rng(rng)
    fold_seeds = [int(master.integers(0, 2**31 - 1)) for _ in range(n_folds)]
    fit_seeds = [int(master.integers(0, 2**31 - 1)) for _ in range(n_folds)]

    if backend == "partitioned":
        from featurescreening_jl_spark.operators.importance_dist import (
            feature_importance_partitioned,
        )

        def fit(sub_ff, seed):
            return feature_importance_partitioned(
                sub_ff, config, seed, **(backend_options or {})
            )

    elif backend == "mllib":
        def fit(sub_ff, seed):
            return feature_importance(sub_ff, config, seed)

    else:
        raise ValueError(f"unknown backend: {backend!r}")

    hits: dict[str, int] = {}
    rank_sums: dict[str, int] = {}
    for f in range(n_folds):
        member = hash_unit(F.col(ff.id_col), fold_seeds[f]) < F.lit(
            float(subsample)
        )
        sub_ff = FeatureFrame(
            ff.df.where(member),
            ff.feature_names,
            label_col=ff.label_col,
            id_col=ff.id_col,
        )
        ranking = fit(sub_ff, fit_seeds[f])
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
