"""The screening tournament loop.

Faithful control-flow re-expression of the reference's main entry point
(/root/reference/src/FeatureScreening.jl:124-178):

0. optional shuffle of the feature-name vector;
1. partition names into fixed-size disjoint slices (last may be short);
2. per round: project survivors + new slice (a lazy ``select`` — Catalyst
   prunes it into the scan), fit a forest (the ONLY cluster-side action per
   round), rank by split frequency, select survivors in rank order;
3. return the final survivor projection.

The control plane (name lists, ranking pairs) is metadata-sized and stays on
the driver — the per-round working set is bounded by
``reduced_size + step_size`` columns regardless of total feature count,
which is what makes the tournament viable over a 100 TB-wide table.
"""

from __future__ import annotations

import csv
import logging
import os
from collections.abc import Callable
from functools import partial
from typing import Any, Optional

import numpy as np

from featurescreening_jl_spark.frame import FeatureFrame
from featurescreening_jl_spark.operators import importance_dist
from featurescreening_jl_spark.operators.importance import (
    DEFAULT_SCREEN_CONFIG,
    feature_importance,
)
from featurescreening_jl_spark.operators.selection import (
    SelectTop,
    SelectionMode,
    label as pair_label,
    make_rng,
)

__all__ = ["screen", "screen_xy"]

log = logging.getLogger(__name__)


def _partition(names: list[str], step: int) -> list[list[str]]:
    """Fixed-size disjoint chunks; last chunk may be short
    (reference ``Iterators.partition``, /root/reference/src/FeatureScreening.jl:149)."""
    return [names[i : i + step] for i in range(0, len(names), step)]


def screen(
    ff: FeatureFrame,
    *,
    reduced_size: Optional[int] = None,
    step_size: Optional[int] = None,
    selection_mode: Optional[SelectionMode] = None,
    config: Optional[dict[str, Any]] = None,
    shuffle: bool = False,
    before: Optional[Callable[[FeatureFrame, FeatureFrame], Any]] = None,
    after: Optional[Callable[[FeatureFrame], Any]] = None,
    show_progress: bool = True,
    rng: Any = None,
    dump_dir: Optional[str] = None,
    checkpoint: Any = None,
    resume_from: Optional[str] = None,
    importance_backend: str = "spark_ml",
    backend_options: Optional[dict[str, Any]] = None,
    unpersist: bool = True,
) -> FeatureFrame:
    """Screen a FeatureFrame down to its most important features.

    Parameter semantics mirror the reference signature
    (/root/reference/src/FeatureScreening.jl:124-140):

    - ``reduced_size`` — survivor-count upper bound; mutually exclusive with
      ``selection_mode``; defaults to ``n_features // 5``, materialized as
      ``SelectTop(reduced_size, strict=False)``.
    - ``step_size`` — slice width per round; defaults to ``n_features // 10``.
    - ``shuffle`` — permute the feature-name vector before slicing.
    - ``before(selected, new)`` / ``after(selected)`` — callbacks, return
      values ignored.
    - ``rng`` — seed or numpy Generator. An int seed derives independent
      per-round streams via ``SeedSequence`` (documented delta from the
      reference, which reseeds a fresh MersenneTwister per round from the
      same integer).
    - ``dump_dir`` — write the full per-round ranking as
      ``importances.<i>.csv`` (reference @dump,
      /root/reference/src/FeatureScreening.jl:164).
    - ``checkpoint`` — a ``RoundCheckpoint`` (sources.checkpoint); each
      round's survivor frame is snapshotted and its row count and ranking
      appended to a lineage record, and
      ``resume_from`` re-enters the loop after the last completed round.
    - ``importance_backend`` — ``"spark_ml"`` (default; MLlib fit,
      semantics-faithful) or ``"partitioned"`` (map-only partition
      ensemble, the near-linear-scaling path for huge inputs — see
      operators/importance_dist.py). ``backend_options`` forwards e.g.
      ``num_partitions``.
    - ``unpersist`` — drop the loop cache before returning (default).
      Pass False when the caller consumes the RETURNED frame immediately:
      the result is a narrow projection of the cached base, so keeping
      the cache alive lets that consumption read ~reduced_size columns
      from memory instead of re-deriving the full featurization lineage;
      the cache then ages out via the session's LRU store.

    The base frame is persisted for the loop (in ``ensemble_layout`` for
    the ``partitioned`` backend, so every round's training is map-only
    over the cache) and its labels are read once, before round 1.
    """
    if reduced_size is not None and selection_mode is not None:
        raise AssertionError(
            "At most one of `reduced_size` and `selection_mode` must be specified!"
        )
    if importance_backend not in ("spark_ml", "partitioned"):
        raise ValueError(
            f"unknown importance_backend {importance_backend!r} "
            "(expected 'spark_ml' or 'partitioned')"
        )
    n = ff.n_features
    if reduced_size is None:
        reduced_size = n // 5
    if selection_mode is None:
        selection_mode = SelectTop(reduced_size, strict=False)
    if step_size is None:
        step_size = n // 10
    if step_size <= 0:
        raise ValueError(f"step_size must be positive (got {step_size})")

    all_names = ff.names
    # Per-round deterministic seed streams: one for shuffle, one per round
    # for the forest fit, one per round for selection.
    if isinstance(rng, np.random.Generator):
        master = rng
        seeds = [int(master.integers(0, 2**31 - 1)) for _ in range(2)]
        seed_seq = np.random.SeedSequence(seeds)
    else:
        seed_seq = np.random.SeedSequence(rng if rng is not None else 0)
    shuffle_ss, rounds_ss = seed_seq.spawn(2)

    if shuffle:
        perm = np.random.default_rng(shuffle_ss).permutation(len(all_names))
        all_names = [all_names[i] for i in perm]

    parts = _partition(all_names, step_size)
    # Pre-spawn every round's (fit, select) seed streams so a resumed run
    # replays the identical randomness for the rounds it re-enters.
    round_streams = rounds_ss.spawn(2 * len(parts))

    selected_names: list[str] = []
    start_round = 0
    if resume_from is not None:
        if checkpoint is None:
            raise ValueError("resume_from requires a checkpoint")
        state = checkpoint.load_state(resume_from)
        if state is not None:
            start_round = state["round"] + 1
            selected_names = state["selected"]
            log.info("resuming at round %d with %d survivors",
                     start_round, len(selected_names))

    fit = feature_importance
    if importance_backend == "partitioned":
        # lay the cache out once as the ensemble wants it: the planner then
        # elides the layout, so every round's training is map-only over it
        backend_opts = dict(backend_options or {})
        n_ens = backend_opts.setdefault(
            "num_partitions", importance_dist.DEFAULT_ENSEMBLE_PARTITIONS
        )
        ff = FeatureFrame(
            importance_dist.ensemble_layout(ff.df, ff.id_col, n_ens),
            ff.feature_names, label_col=ff.label_col, id_col=ff.id_col,
        )
        fit = partial(importance_dist.feature_importance_partitioned,
                      **backend_opts)
    ff.df.persist()
    ff.distinct_labels()  # once: every round's frame inherits the list

    sc = ff.df.sparkSession.sparkContext
    merged_cfg = {**DEFAULT_SCREEN_CONFIG, **(config or {})}
    n_rounds = len(parts)
    for i, part in enumerate(parts):
        if i < start_round:
            continue
        selected = ff.select_features(selected_names)
        new = ff.select_features(part)

        if before is not None:
            before(selected, new)

        to_be_selected = selected.merge(new)

        fit_seed = int(
            np.random.default_rng(round_streams[2 * i]).integers(0, 2**31 - 1)
        )

        caller_description = sc.getLocalProperty("spark.job.description")
        sc.setJobDescription(
            f"screen round {i + 1}/{n_rounds}: fit forest over "
            f"{to_be_selected.n_features} features"
        )
        try:
            importances = fit(to_be_selected, config=merged_cfg, rng=fit_seed)
        finally:
            sc.setJobDescription(caller_description)

        if dump_dir is not None:
            os.makedirs(dump_dir, exist_ok=True)
            with open(os.path.join(dump_dir, f"importances.{i + 1}.csv"), "w",
                      newline="") as fh:
                writer = csv.writer(fh)
                writer.writerow(["feature", "importance"])
                writer.writerows(importances)

        select_rng = np.random.default_rng(round_streams[2 * i + 1])
        important = selection_mode.select_from(select_rng, importances)
        selected_names = [str(pair_label(p)) for p in important]

        selected = to_be_selected.select_features(selected_names)

        if checkpoint is not None:
            checkpoint.save_round(i, selected, importances)
        if after is not None:
            after(selected)
        if show_progress:
            log.info(
                "screen round %d/%d: %d candidates -> %d survivors",
                i + 1, n_rounds, to_be_selected.n_features, len(selected_names),
            )

    result = ff.select_features(selected_names)
    if unpersist:
        ff.df.unpersist()
    return result


def screen_xy(spark, X, y, **kwargs) -> FeatureFrame:
    """``screen(X, y)`` convenience entry — the reference's varargs method
    (/root/reference/src/FeatureScreening.jl:88-90): wraps the matrix in a
    FeatureFrame (names default to stringified 1-based indices) and runs
    the tournament with the same keyword arguments as :func:`screen`."""
    return screen(FeatureFrame.from_xy(spark, X, y), **kwargs)
