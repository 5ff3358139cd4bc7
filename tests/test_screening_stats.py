"""Filter-method screening statistics (operators/screening_stats.py):
chi2/MI ranking, exact one-pass correlation pairs, redundancy pruning."""

from __future__ import annotations

import math

import numpy as np
import pytest

from featurescreening_jl_spark.operators.screening_stats import (
    chi2_mi_ranking,
    feature_corr_pairs,
    redundancy_prune,
)

pytestmark = pytest.mark.spark


def _chi2_mi_numpy(x: np.ndarray, y: list[str], n_bins: int) -> tuple:
    """Independent replica: equi-width bins, chi2 over ALL cells, MI in
    nats over observed cells."""
    mn, mx = np.nanmin(x), np.nanmax(x)
    if mn == mx:
        bins = np.zeros(len(x), dtype=int)
    else:
        bins = np.minimum(n_bins - 1, np.floor((x - mn) / (mx - mn) * n_bins))
        bins = np.where(np.isnan(x), -1, bins).astype(int)
    labels = sorted(set(y))
    bvals = sorted(set(bins))
    obs = np.zeros((len(bvals), len(labels)))
    for b, lab in zip(bins, y):
        obs[bvals.index(b), labels.index(lab)] += 1
    n = obs.sum()
    exp = obs.sum(axis=1, keepdims=True) * obs.sum(axis=0, keepdims=True) / n
    chi2 = ((obs - exp) ** 2 / exp).sum()
    p = obs / n
    px = p.sum(axis=1, keepdims=True)
    py = p.sum(axis=0, keepdims=True)
    with np.errstate(divide="ignore", invalid="ignore"):
        terms = np.where(obs > 0, p * np.log(p / (px * py)), 0.0)
    return chi2, terms.sum()


@pytest.fixture(scope="module")
def frame(spark):
    rng = np.random.default_rng(7)
    n = 400
    y = ["pos" if v else "neg" for v in rng.integers(0, 2, n)]
    informative = np.where([v == "pos" for v in y], 3.0, 0.0) + rng.normal(
        0, 1, n
    )
    noise = rng.normal(0, 1, n)
    constant = np.full(n, 2.5)
    redundant = informative * 2.0 + 0.01 * rng.normal(0, 1, n)
    rows = [
        (y[i], float(informative[i]), float(noise[i]), float(constant[i]),
         float(redundant[i]))
        for i in range(n)
    ]
    df = spark.createDataFrame(
        rows, "label string, f_info double, f_noise double, "
        "f_const double, f_red double"
    )
    return df, y, informative, noise, constant, redundant


def test_chi2_mi_matches_numpy_replica(spark, frame):
    df, y, informative, noise, constant, _ = frame
    out = {
        r["feature"]: (r["chi2"], r["mi"])
        for r in chi2_mi_ranking(
            df, ["f_info", "f_noise", "f_const"], n_bins=8
        ).collect()
    }
    for name, arr in [("f_info", informative), ("f_noise", noise),
                      ("f_const", constant)]:
        chi2, mi = _chi2_mi_numpy(arr, y, 8)
        assert out[name][0] == pytest.approx(chi2, abs=1e-5), name
        assert out[name][1] == pytest.approx(mi, abs=1e-5), name
    # the informative feature must dominate; the constant one carries zero
    # signal (single bin → chi2 = 0, mi = 0)
    assert out["f_info"][0] > out["f_noise"][0]
    assert out["f_const"][0] == 0.0 and out["f_const"][1] == 0.0


def test_chi2_null_bin(spark):
    rows = [("a", 1.0), ("a", None), ("b", 2.0), ("b", None), ("a", 1.5)]
    df = spark.createDataFrame(rows, "label string, f double")
    row = chi2_mi_ranking(df, ["f"], n_bins=4).collect()[0]
    # nulls form their own bin: the statistic is finite and well-defined
    assert row["chi2"] is not None and math.isfinite(row["chi2"])


def test_corr_pairs_match_numpy(spark, frame):
    df, _, informative, noise, _, redundant = frame
    # replicate the fixed-point snap, then exact corrcoef
    fx = {
        "f_info": np.floor(informative * 1000 + 0.5),
        "f_noise": np.floor(noise * 1000 + 0.5),
        "f_red": np.floor(redundant * 1000 + 0.5),
    }
    got = {
        (r["feature_a"], r["feature_b"]): r["corr"]
        for r in feature_corr_pairs(
            df, ["f_info", "f_noise", "f_red"], scale=3
        ).collect()
    }
    assert len(got) == 3
    for (a, b), c in got.items():
        expect = np.corrcoef(fx[a], fx[b])[0, 1]
        assert c == pytest.approx(expect, abs=1e-6), (a, b)
    assert abs(got[("f_info", "f_red")]) > 0.99


def test_corr_zero_variance_is_null_and_listwise_nulls(spark):
    rows = [(1.0, 5.0, 1.0), (2.0, 5.0, None), (3.0, 5.0, 3.0),
            (4.0, 5.0, 4.0)]
    df = spark.createDataFrame(rows, "x double, c double, z double")
    got = {
        (r["feature_a"], r["feature_b"]): r["corr"]
        for r in feature_corr_pairs(df, ["x", "c", "z"]).collect()
    }
    assert got[("x", "c")] is None  # zero variance → NULL, not ±inf
    # the null z-row is dropped listwise: corr(x, z) over rows 1/3/4 = 1.0
    assert got[("x", "z")] == pytest.approx(1.0)


def test_redundancy_prune_greedy():
    pairs = [
        ("a", "b", 0.95),   # b is redundant with kept a
        ("a", "c", 0.10),
        ("b", "c", 0.20),
        ("a", "d", None),   # null corr never blocks
        ("b", "d", 0.0),
        ("c", "d", -0.92),  # d redundant with kept c (absolute value)
    ]
    kept = redundancy_prune(["a", "b", "c", "d"], pairs, threshold=0.9)
    assert kept == ["a", "c"]
    # rank order decides who survives: reversed ranking keeps b, drops a
    kept2 = redundancy_prune(["b", "a", "c", "d"], pairs, threshold=0.9)
    assert kept2 == ["b", "c"]


def test_binds_to_turn_feature_frame(spark):
    """The screening-stats operators run on the flagship feature frame."""
    import os

    sf = "/root/testdata/sf0.001"
    if not os.path.isdir(sf):
        pytest.skip("testdata missing")
    import __spark_entry__ as e
    from featurescreening_jl_spark.operators.window_features import (
        TURN_FEATURE_COLS,
        turn_feature_frame,
    )

    feats = turn_feature_frame(e._transcripts(spark, sf)).df
    ranked = chi2_mi_ranking(feats, TURN_FEATURE_COLS, n_bins=8).collect()
    assert len(ranked) == len(TURN_FEATURE_COLS)
    assert all(r["chi2"] is not None for r in ranked)
    names = [r["feature"] for r in ranked]
    corr = feature_corr_pairs(feats, names[:6])
    kept = redundancy_prune(names[:6], corr, threshold=0.95)
    assert set(kept) <= set(names[:6]) and kept  # non-empty, rank-ordered
