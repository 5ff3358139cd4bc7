"""The keyed-batch runner's stitch (plans/keyed.py), without Spark: over
hand-made key-sorted batches, every block call must see whole keys, and
every row must come out once, in input order."""

from __future__ import annotations

import numpy as np
import pandas as pd

from featurescreening_jl_spark.plans.keyed import key_starts, stitch_key_blocks


def _batches(keys, sizes):
    pdf = pd.DataFrame({"k": keys, "v": np.arange(len(keys), dtype=float)})
    cuts = np.cumsum([0, *sizes])
    assert cuts[-1] == len(pdf)
    return [pdf.iloc[a:b].reset_index(drop=True) for a, b in zip(cuts, cuts[1:])]


def _run(batches, keys=("k",)):
    calls = []

    def block(pdf, starts):
        calls.append((pdf.copy(), starts.copy()))
        np.testing.assert_array_equal(starts, key_starts(pdf, keys))
        return pdf

    out = list(stitch_key_blocks(batches, list(keys), block))
    return calls, (pd.concat(out, ignore_index=True) if out else None)


def test_key_split_across_three_batches_and_empty_batch():
    keys = ["a", "a", "b", "b", "b", "b", "b", "c", "d", "d"]
    # "b" spans batches 1-3; batch 2 is empty
    batches = _batches(keys, [3, 0, 2, 1, 2, 2])
    calls, out = _run(batches)
    assert list(out["k"]) == keys
    assert list(out["v"]) == list(range(len(keys)))
    assert [list(pdf["k"]) for pdf, _ in calls] == [
        ["a", "a"], ["b"] * 5, ["c"], ["d", "d"],
    ]


def test_one_key_spanning_every_batch():
    keys = ["x"] * 9
    calls, out = _run(_batches(keys, [2, 3, 0, 4]))
    assert len(calls) == 1
    pdf, starts = calls[0]
    assert list(starts) == [0] and len(pdf) == 9
    assert list(out["v"]) == list(range(9))


def test_blocks_of_many_keys_and_composite_keys():
    k1 = [1, 1, 1, 2, 2, 2, 2]
    k2 = ["p", "p", "q", "q", "q", "r", "r"]
    pdf = pd.DataFrame({"k1": k1, "k2": k2, "v": range(7)})
    batches = [pdf.iloc[:4], pdf.iloc[4:]]
    calls, out = _run(
        [b.reset_index(drop=True) for b in batches], keys=("k1", "k2")
    )
    # (1,p) and (1,q) are whole in batch 1; (2,q) waits for batch 2
    assert [list(starts) for _, starts in calls] == [[0, 2], [0], [0]]
    assert list(out["v"]) == list(range(7))


def test_no_rows():
    assert _run([])[1] is None
    empty = pd.DataFrame({"k": pd.Series([], dtype=object), "v": []})
    assert _run([empty, empty])[1] is None
