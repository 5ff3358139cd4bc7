"""Partition-ensemble split-frequency importance — the scale-out backend.

The MLlib backend (operators/importance.py) is semantics-faithful to the
reference but Amdahl-capped: MLlib's tree induction selects splits on the
DRIVER once per depth level, so past ~8 cores extra executors idle while
the driver walks node queues (measured on this engine: 8→32 cores gives
only ~2.3× on the fit, ~0.6 scaling efficiency).

This backend restructures the computation so the cluster does ALL the
work and the driver only sums integers:

- the feature frame is hash-repartitioned on ``sample_id`` into a FIXED
  partition count (independent of cluster size → deterministic partition
  contents at any parallelism);
- every partition trains its own small random forest on its local rows
  (bootstrap-bagged, histogram-binned CART on numpy — vectorized
  ``bincount`` per (node, candidate-feature), no Python-per-row work)
  inside one Arrow-batched ``mapInPandas`` pass — a MAP-ONLY stage, zero
  shuffles during training;
- each task emits ONE row: its partition id and the dense vector of its
  sub-forest's split counts over the candidate features. The rows are
  collected as they are (one Spark job, no exchange after training) into
  a P × candidates count matrix. Split frequency is ADDITIVE across
  sub-forests, so the driver's column sum is exactly the statistic the
  reference folds out of one big forest
  (/root/reference/src/importance.jl:62-94): occurrences of each feature
  as an internal split node. The sum over a SUBSET of the partitions is
  the same statistic of a smaller forest over a hash subsample of the
  data: ``operators/stability.py`` draws its folds that way.

Statistical model delta (documented, deliberate): trees see bootstrap
samples OF THEIR PARTITION rather than of the whole table — the standard
distributed-ensemble trade at 10^12 rows, where no single tree can see
all rows anyway. Rows are hash-distributed (no locality bias), and the
screening contract only consumes the aggregate ranking.

Determinism: per-partition RNG streams are
``SeedSequence([seed, partition_id])``; with the fixed repartition count
the (rows → partition) map is a pure hash, so results are reproducible
at any core count — verified by test.
"""

from __future__ import annotations

import logging
from collections import Counter
from typing import Any, Iterator, Optional

import numpy as np
import pandas as pd

from featurescreening_jl_spark.frame import FeatureFrame
from featurescreening_jl_spark.operators.importance import (
    DEFAULT_CONFIG_FOR_FEATURE_IMPORTANCE,
    rank_counts,
)
from featurescreening_jl_spark.operators.selection import make_rng

__all__ = ["DEFAULT_ENSEMBLE_PARTITIONS", "ensemble_layout",
           "feature_importance_partitioned", "local_forest_split_counts"]

_MAX_BINS = 32
DEFAULT_ENSEMBLE_PARTITIONS = 64  # fixed: independent of cluster size

log = logging.getLogger(__name__)


def _grow_tree(
    codes: np.ndarray,  # (n, f) uint8 bin codes
    y: np.ndarray,  # (n,) int16 class ids
    n_classes: int,
    n_bins: np.ndarray,  # (f,) bins actually used per feature
    cfg: dict[str, Any],
    rng: np.random.Generator,
    counts: Counter,
) -> None:
    """One CART tree on pre-binned data; increments ``counts`` by each
    internal node's split feature (the reference's accumulate_id!,
    /root/reference/src/importance.jl:87-94)."""
    n, f = codes.shape
    m = cfg["_n_candidate_features"]
    max_depth = cfg["_max_depth"]
    min_leaf = int(cfg["min_samples_leaf"])
    min_split = int(cfg["min_samples_split"])
    min_gain = float(cfg["min_purity_increase"])

    # (rows, depth) work stack
    stack: list[tuple[np.ndarray, int]] = [(np.arange(n, dtype=np.int64), 0)]
    while stack:
        rows, depth = stack.pop()
        nr = rows.size
        if depth >= max_depth or nr < min_split or nr < 2 * min_leaf:
            continue
        ny = y[rows]
        parent_hist = np.bincount(ny, minlength=n_classes).astype(np.float64)
        if (parent_hist > 0).sum() <= 1:  # pure node
            continue
        parent_gini = 1.0 - ((parent_hist / nr) ** 2).sum()

        feats = rng.choice(f, size=min(m, f), replace=False)
        best_gain, best_feat, best_thr = 0.0, -1, -1
        for feat in feats:
            fc = codes[rows, feat].astype(np.int64)
            b = int(n_bins[feat])
            if b <= 1:
                continue
            # class histogram per bin, vectorized
            hist = np.bincount(
                fc * n_classes + ny, minlength=b * n_classes
            ).reshape(b, n_classes)
            left = np.cumsum(hist, axis=0)[:-1]  # thresholds: bin <= t
            ln = left.sum(axis=1).astype(np.float64)
            rn = nr - ln
            ok = (ln >= min_leaf) & (rn >= min_leaf)
            if not ok.any():
                continue
            with np.errstate(divide="ignore", invalid="ignore"):
                gl = 1.0 - (left**2).sum(axis=1) / np.maximum(ln, 1) ** 2
                total_right = parent_hist[None, :] - left
                gr = 1.0 - (total_right**2).sum(axis=1) / np.maximum(rn, 1) ** 2
            gain = parent_gini - (ln * gl + rn * gr) / nr
            gain[~ok] = -1.0
            t = int(np.argmax(gain))
            if gain[t] > best_gain:
                best_gain, best_feat, best_thr = float(gain[t]), int(feat), t

        if best_feat < 0 or best_gain < min_gain or best_gain <= 0.0:
            continue
        counts[best_feat] += 1
        mask = codes[rows, best_feat] <= best_thr
        stack.append((rows[mask], depth + 1))
        stack.append((rows[~mask], depth + 1))


def local_forest_split_counts(
    X: np.ndarray,
    y: np.ndarray,
    n_classes: int,
    cfg: dict[str, Any],
    rng: np.random.Generator,
) -> Counter:
    """Train ``cfg['_trees']`` bagged trees on (X, y); return per-feature
    split counts. Histogram binning: per-feature quantile edges (≤32 bins)
    computed on the local rows, then uint8 codes."""
    n, f = X.shape
    counts: Counter = Counter()
    if n < 2 * int(cfg["min_samples_leaf"]):
        return counts

    # pre-bin once per partition: quantile edges → codes
    codes = np.empty((n, f), dtype=np.uint8)
    n_bins = np.empty(f, dtype=np.int64)
    qs = np.linspace(0, 1, _MAX_BINS + 1)[1:-1]
    for j in range(f):
        edges = np.unique(np.quantile(X[:, j], qs))
        codes[:, j] = np.searchsorted(edges, X[:, j], side="left").astype(
            np.uint8
        )
        n_bins[j] = edges.size + 1

    frac = float(cfg["partial_sampling"])
    size = max(int(frac * n), 2 * int(cfg["min_samples_leaf"]))
    for _ in range(int(cfg["_trees"])):
        idx = rng.integers(0, n, size=size)  # bootstrap (with replacement)
        _grow_tree(
            codes[idx], y[idx].astype(np.int16), n_classes, n_bins, cfg, rng,
            counts,
        )
    return counts


def _resolved_cfg(config: Optional[dict[str, Any]],
                  n_features: int) -> dict[str, Any]:
    cfg = {**DEFAULT_CONFIG_FOR_FEATURE_IMPORTANCE, **(config or {})}
    n_sub = cfg["n_subfeatures"]
    if n_sub in (-1, 0):
        m = max(int(round(np.sqrt(n_features))), 1)
    else:
        m = int(n_sub)
    depth = cfg["max_depth"]
    cfg["_max_depth"] = 30 if depth is None or int(depth) < 0 else int(depth)
    cfg["_n_candidate_features"] = m
    return cfg


def _partition_trees(n_trees: int, num_partitions: int) -> list[int]:
    """Partition ``p``'s share of the total tree budget: ``n_trees // P``,
    plus one for the first ``n_trees % P`` partitions, and at least one —
    so a budget below ``P`` is raised to ``P``."""
    base, extra = divmod(n_trees, num_partitions)
    return [max(base + (p < extra), 1) for p in range(num_partitions)]


def ensemble_layout(df, id_col: str, num_partitions: int):
    """The ensemble's row layout. Hash-partitioning on the id fixes WHICH
    rows land in each partition, the sort fixes their ORDER (bootstrap
    draws index rows by position): identical results at any core count.
    Over a cache already in this layout the planner drops both operators."""
    return df.repartition(num_partitions, id_col).sortWithinPartitions(id_col)


def _split_count_matrix(
    ff: FeatureFrame,
    config: Optional[dict[str, Any]],
    rng: Any,
    num_partitions: int,
) -> np.ndarray:
    """``(num_partitions, n_features)`` int64 matrix: row ``p`` holds the
    split counts of partition ``p``'s sub-forest (all zero for an empty
    partition). One Spark job over an input already in the layout; logs
    one warning when partitions are too small to grow a tree."""
    from pyspark.sql import functions as F

    seed = int(make_rng(rng).integers(0, 2**31 - 1))
    names = ff.feature_names
    cfg = _resolved_cfg(config, len(names))
    trees = _partition_trees(int(cfg["n_trees"]), num_partitions)

    labels = ff.distinct_labels()
    n_classes = len(labels)
    mapping = F.create_map(
        *[x for i, lbl in enumerate(labels) for x in (F.lit(lbl), F.lit(i))]
    )
    proj = ensemble_layout(
        ff.df.select(
            F.col(ff.id_col),
            mapping[F.col(ff.label_col)].alias("__y"),
            *[F.col(c).cast("double") for c in names],
        ),
        ff.id_col,
        num_partitions,
    )

    def train(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        parts = [b for b in it]
        if not parts:
            return
        pdf = pd.concat(parts, ignore_index=True) if len(parts) > 1 else parts[0]
        if pdf.empty:
            return
        X = pdf[list(names)].to_numpy(dtype=np.float64, copy=False)
        yv = pdf["__y"].to_numpy(dtype=np.int64)
        gen = np.random.default_rng(np.random.SeedSequence([seed, pid]))
        counts = local_forest_split_counts(
            X, yv, n_classes, {**cfg, "_trees": trees[pid]}, gen
        )
        dense = [counts[j] for j in range(len(names))]
        yield pd.DataFrame({"pid": [pid], "n": [len(pdf)], "counts": [dense]})

    # the layout fixes partition contents; the stage is map-only and its
    # P rows are collected as they are
    rows = proj.mapInPandas(
        train, "pid int, n long, counts array<long>"
    ).collect()
    matrix = np.zeros((num_partitions, len(names)), dtype=np.int64)
    for r in rows:
        matrix[r["pid"]] = r["counts"]
    min_rows = 2 * int(cfg["min_samples_leaf"])
    small = num_partitions - sum(r["n"] >= min_rows for r in rows)
    if small:
        log.warning(
            "%d of %d ensemble partitions hold fewer than %d rows "
            "(2 x min_samples_leaf) and grow no tree",
            small, num_partitions, min_rows,
        )
    return matrix


def feature_importance_partitioned(
    ff: FeatureFrame,
    config: Optional[dict[str, Any]] = None,
    rng: Any = None,
    *,
    num_partitions: int = DEFAULT_ENSEMBLE_PARTITIONS,
) -> list[tuple[str, int]]:
    """Ranked ``(feature_name, split_count)`` via the partition ensemble.

    ``config['n_trees']`` is the TOTAL tree budget, split as evenly as
    possible across ``num_partitions`` (≥1 tree each: a budget below
    ``num_partitions`` is raised to it). Ranking contract matches the MLlib
    backend (``importance.rank_counts``): count desc, original column
    position asc; never-split features absent.

    The training input always gets :func:`ensemble_layout`. Over a cache
    already in that layout with the same ``num_partitions`` (the screening
    loop's base) the fit is one MAP-ONLY Spark job, zero shuffles; any
    other input pays one exchange.
    """
    matrix = _split_count_matrix(ff, config, rng, num_partitions)
    return rank_counts(ff.feature_names, matrix.sum(axis=0))
